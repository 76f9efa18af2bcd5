"""Sinks (SURVEY.md §2.A): JDBC append, idempotent upsert, partitioned
parquet.

The reference appends typed rows to a SQL table via SQLAlchemy
``to_sql(append)`` after dropping already-loaded hit ids
[REF-UNVERIFIED]. The Spark forms:

- :func:`append_jdbc` — ``df.write.jdbc(mode='append')``; needs a JDBC
  driver jar on the classpath. Round-7 discovery: pyspark SHIPS Derby's
  embedded driver (for the Hive metastore), so the real write path is
  exercised end-to-end by ``q_jdbc_roundtrip`` / ``s_jdbc_sync``
  (ops/round7.py, full hash oracles); server drivers (postgres, mysql)
  are still absent and keep the tested error contract.
- :func:`upsert_append` — insert-if-absent on a key: anti-join against
  the current target, then append, into bucket directories
  (sources/layout.py). It is the batch form the streaming sync loops
  (ops/streaming.s_incremental_sync, s_paged_sync) run once per
  micro-batch through one :class:`BucketedUpsertSink`, hash-bucketed
  on the key (``bucket=K``), and the one
  :class:`~googleanalytics_etl_spark.etl.SyncPipeline` runs per sync,
  bucketed by the day of its watermark (``wm_day=D``); its
  ``backfill`` writes the same layout. On a lakehouse table it becomes
  ``MERGE INTO`` (Delta/Iceberg jars are also not in this container —
  documented upgrade path, same plan shape).
- :func:`write_partitioned` — hive-style partitioned layout, the scan
  side of partition pruning at 100 TB.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NullType

from .layout import bucket_dirs, bucket_of, bucket_writer, hadoop_fs, path_exists

# Default hash-bucket count of an upsert target bucketed on its key: the
# streaming sync keys (s_incremental_sync, s_paged_sync) and a stateless
# upsert_append. The SyncPipeline target is bucketed by watermark day
# instead; the CDC state, the durable fold and the xsi index hash-bucket
# with their own counts. At warehouse scale pick target_bytes /
# desired_file_size; 32 keeps sf0.1 files sensible.
SINK_BUCKETS = 32


def append_jdbc(df: DataFrame, url: str, table: str, **options: str) -> None:
    """Append rows to a JDBC table (SQLAlchemy ``to_sql`` analogue)."""
    writer = df.write.mode("append")
    for k, v in options.items():
        writer = writer.option(k, v)
    try:
        writer.jdbc(url, table)
    except Exception as e:  # no JDBC driver in this environment
        raise RuntimeError(
            "JDBC append failed — a driver jar (e.g. postgresql) must be on "
            "spark.jars; none ships in this container"
        ) from e


def upsert_append(
    spark: SparkSession,
    incoming: DataFrame,
    target_path: str,
    key: str,
    n_buckets: int = SINK_BUCKETS,
    sink: BucketedUpsertSink | None = None,
) -> int:
    """Idempotent insert-if-absent on ``key`` into a parquet target.

    Returns the number of appended rows. Safe to re-run with overlapping
    extracts — the anti-join makes the append exactly-once per key. A
    read failure on an existing target raises (it is never treated as an
    empty target).

    Layout: without ``sink``, the target is hash-bucketed on ``key``
    into hive ``bucket=K`` directories (K = xxhash64(key) mod
    ``n_buckets``), the same pruned shape as the CDC MERGE state. The
    anti-join then reads ONLY the buckets the incoming rows fall into
    (hive partition pruning — ``PartitionFilters`` on the scan), and
    the append writes files only under those buckets; a re-run with no
    fresh keys touches ZERO buckets. An existing target without the
    sink's bucket dirs raises :class:`ValueError`; rewrite it in this
    layout with ``SyncPipeline.backfill``.

    ``sink`` is a run-scoped :class:`BucketedUpsertSink` for this
    ``target_path`` and ``key`` (its bucket wins); without one, the
    target is probed afresh.
    """
    if sink is None:
        sink = BucketedUpsertSink(target_path, key, n_buckets)
    elif (sink.target_path, sink.key) != (target_path, key):
        raise ValueError(
            f"sink is for ({sink.target_path!r}, {sink.key!r}), "
            f"not ({target_path!r}, {key!r})"
        )
    n = sink.upsert(incoming, count_appended=True)
    assert n is not None
    return n


class BucketedUpsertSink:
    """Reusable upsert sink: caches target metadata across micro-batches.

    A ``foreachBatch`` sync loop calls :func:`upsert_append` once per
    micro-batch; the stateless form re-probes the target every time —
    two Hadoop-FS round-trips (exists? bucketed?) plus a parquet
    schema-inference footer read — even though those facts only change
    when THIS sink appends. A run-scoped instance checks existence
    once, caches the target schema after first contact, and lists the
    bucket directories once per upsert (metadata only): the anti-join
    scans only the touched buckets the target holds, and an increment
    that touches none of them is appended without the anti-join (no
    broadcast of an empty scan, no count job). For callers that do not
    need the appended-row count, like the streaming loop whose
    idempotency is already guaranteed by the anti-join, it offers
    ``count_appended=False``: the fresh-rows plan is evaluated by the
    write itself, without the count job. With the count, the anti-join
    is still evaluated once: the count job pins its rows (a lazy local
    checkpoint) and the write reads them back. All of this is
    job-setup constant, not data IO — the touched-buckets-only pruning
    contract is byte-identical to :func:`upsert_append` and covered by
    the same tests (tests/test_streaming.py asserts appended files land
    only under incoming-key buckets when driven through this sink).

    Bucket: ``bucket`` is ``(column, int expression)``, the hive
    partition each row is written under; the default is the hash of the
    key, ``("bucket", bucket_of(n_buckets, key))``. Pruning the
    anti-join to the incoming rows' buckets is exact only if every copy
    of a key falls into one bucket: a function of the key always does;
    :class:`~googleanalytics_etl_spark.etl.SyncPipeline` buckets by the
    day of its watermark (``wm_day=D``) and refuses a key that is not
    computed from the watermark. A row whose bucket is null is written
    under the null directory, and the anti-join reads that directory
    whenever the increment holds such a row.

    Appends hash-partition on the bucket into min(touched buckets,
    ``defaultParallelism``) tasks: every touched bucket still gains
    exactly one file per upsert, but the fixed per-task cost scales with
    the cores, not with the buckets.

    Watermark: given ``watermark_col``, each upsert also records
    ``incoming_max``, the max of that column over the upsert's incoming
    rows (None if there were none), in the job that already counts them
    and finds the touched buckets. Every incoming row the anti-join
    drops is already in the target, so max(target max before,
    ``incoming_max``) is the target max after —
    :class:`~googleanalytics_etl_spark.etl.SyncPipeline` keeps its
    high-water mark this way instead of scanning the target.

    PRECONDITION — single writer: the cached state/schema are valid only
    while this instance is the path's sole writer for the run. If the
    target is created, replaced, or schema-evolved by anything else
    between calls (a second sink on the same path, a concurrent
    stateless ``upsert_append``), the stale "empty" probe would skip the
    anti-join and duplicate rows. Callers that share a path must create
    a fresh instance (or call :meth:`invalidate`) after any external
    write; the registered streaming keys each own a run-scoped scratch
    path, so they satisfy this by construction.
    """

    def __init__(
        self,
        target_path: str,
        key: str,
        n_buckets: int = SINK_BUCKETS,
        watermark_col: str | None = None,
        bucket: tuple[str, Column] | None = None,
    ) -> None:
        self.target_path = target_path
        self.key = key
        self.n_buckets = n_buckets
        self.watermark_col = watermark_col
        self.bucket_col, self._bucket = bucket or ("bucket", bucket_of(n_buckets, key))
        self.incoming_max = None
        self._state: str | None = None  # None → unprobed; "empty"/"bucketed"
        self._schema = None  # target schema once known (incl. bucket partition col)

    def invalidate(self) -> None:
        """Drop the cached probe/schema — call after any OTHER writer
        touches the target path, so the next upsert re-probes."""
        self._state = None
        self._schema = None

    def _probe(self, spark: SparkSession) -> set[int | None]:
        """The ids of the target's bucket directories, listed afresh
        (metadata only; none for an absent target, whose absence is
        cached)."""
        if self._state is None and not path_exists(spark, self.target_path):
            self._state = "empty"
        if self._state == "empty":
            return set()
        dirs = set(bucket_dirs(spark, self.target_path, self.bucket_col))
        if not dirs:
            raise ValueError(
                f"{self.target_path} exists but has no {self.bucket_col}=K "
                "directories; rewrite it with SyncPipeline.backfill "
                "(the CLI's backfill command) before syncing into it"
            )
        self._state = "bucketed"
        return dirs

    def read_target(self, spark: SparkSession) -> DataFrame:
        """The target as a DataFrame; the first read caches its schema."""
        reader = spark.read
        if self._schema is not None:
            # cached schema skips the per-batch footer-inference pass;
            # partition discovery (bucket dirs) still prunes as usual
            reader = reader.schema(self._schema)
        df = reader.parquet(self.target_path)
        # a target of null buckets only gives its bucket column no type
        # yet; a schema read from it would null every later bucket
        if self._schema is None and not isinstance(
            df.schema[self.bucket_col].dataType, NullType
        ):
            self._schema = df.schema
        return df

    def _bucketed(self, df: DataFrame) -> DataFrame:
        return df.withColumn(self.bucket_col, self._bucket)

    def _touched(self, inc: DataFrame) -> tuple[int, set[int | None]]:
        """One job over the pinned ``inc``: its row count and the
        buckets its rows fall into, None for the null bucket (≤ the
        distinct buckets — bounded metadata, never data-scale). Records
        ``incoming_max`` in passing."""
        b = F.col(self.bucket_col)
        wm = self.watermark_col
        n, touched, nulls, self.incoming_max = inc.agg(
            F.count(F.lit(1)),
            F.collect_set(b),  # drops nulls; `nulls` says if there were any
            F.max(b.isNull()),
            F.max(wm) if wm else F.lit(None),
        ).first()
        return n, set(touched) | ({None} if nulls else set())

    def _write(self, df: DataFrame, n_touched: int) -> None:
        bucket_writer(df, n_touched, bucket=self.bucket_col).mode("append").parquet(
            self.target_path
        )

    def _drop_target(self, spark: SparkSession) -> None:
        fs, hpath = hadoop_fs(spark, self.target_path)
        fs.delete(hpath, True)

    def replace(self, incoming: DataFrame) -> int:
        """Overwrite the target with ``incoming`` in the layout
        :meth:`upsert` appends to; returns the rows written. No rows
        leave no target, as a first upsert of no rows does."""
        spark = incoming.sparkSession
        self.invalidate()
        # pinned: counted and written from one evaluation of `incoming`
        with _pinned(self._bucketed(incoming)) as inc:
            n, touched = self._touched(inc)
            if n:
                # static: the whole old target goes, whatever its layout
                bucket_writer(inc, len(touched), bucket=self.bucket_col).mode(
                    "overwrite"
                ).option("partitionOverwriteMode", "static").parquet(
                    self.target_path
                )
        if not n:
            self._drop_target(spark)
        return n

    def upsert(
        self, incoming: DataFrame, count_appended: bool = True
    ) -> int | None:
        """Insert-if-absent ``incoming`` rows; same contract as
        :func:`upsert_append`. With ``count_appended=False`` the
        appended count is not computed (returns None) and the fresh-row
        plan runs once, inside the write."""
        spark = incoming.sparkSession
        existing = self._probe(spark)
        self.incoming_max = None

        if not existing and not count_appended and self.watermark_col is None:
            # written without looking at the rows: no rows leave only
            # _SUCCESS, which is no target, so the target stays "empty"
            self._write(self._bucketed(incoming), self.n_buckets)
            if bucket_dirs(spark, self.target_path, self.bucket_col):
                self._state = "bucketed"
            else:
                self._drop_target(spark)
            return None

        # pinned: the count/touched-bucket job, the anti-join and the
        # append all observe the SAME rows even if `incoming` is
        # nondeterministic, and the first job computes them in passing
        with _pinned(self._bucketed(incoming)) as inc:
            n, touched = self._touched(inc)
            if not n:
                # no rows → no write, so an absent target stays "empty"
                return 0 if count_appended else None
            existing &= touched
            if not existing:
                # every copy of a key is in one bucket, so no row of a
                # bucket the target lacks can be loaded: no anti-join
                self._write(inc, len(touched))
                self._state = "bucketed"
                return n if count_appended else None

            b = F.col(self.bucket_col)
            held = b.isin([k for k in existing if k is not None])
            loaded = (
                self.read_target(spark)
                .where((held | b.isNull()) if None in existing else held)  # dir-pruned
                .select(self.key)
            )
            anti = inc.join(loaded, self.key, "left_anti")
            if not count_appended:
                # single evaluation of the anti-join, inside the write
                self._write(anti, len(touched))
                return None
            # the count evaluates the anti-join once against the target
            # as it was; the write reads those rows back. (A persisted
            # frame would be re-cached, and a count taken after the
            # write re-evaluated, against the grown target.)
            with _pinned(anti) as fresh:
                n = fresh.count()
                if n:
                    self._write(fresh, len(touched))
            return n


@contextmanager
def _pinned(df: DataFrame):
    """``df`` as a lazily local-checkpointed frame; its blocks are
    dropped on exit.

    The first action computes the rows and keeps them in the block
    manager; later actions read them back and never re-evaluate the
    plan, so a later change to an input the plan reads (the sink's own
    target) cannot change them. Unlike ``persist``, the frame is not in
    Spark's cache manager: a write to a path it reads neither re-caches
    nor re-evaluates it. A lost block fails the action instead of
    recomputing it; the upsert is idempotent, so re-running is safe.
    """
    df = df.localCheckpoint(eager=False)
    rdd = df._jdf.queryExecution().logical().rdd()
    try:
        # coalesce(1) on one partition is a no-op that tells the planner
        # so: a global aggregate or count then runs in one job, no shuffle
        yield df.coalesce(1) if rdd.getNumPartitions() == 1 else df
    finally:
        rdd.unpersist(False)


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """Partitioned parquet write (partition-pruned scans downstream)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
