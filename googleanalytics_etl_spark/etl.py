"""High-level config-driven ETL facade — the reference's user-facing API,
re-expressed (SURVEY.md §3.2 EP1').

The reference is driven by a YAML config mapping GA dimensions/metrics to
target columns and dtypes; ``GoogleAnalyticsETL.sync()`` reads the target
high-water mark, extracts the tail, renames/casts/derives, drops
already-loaded hit ids, and appends [REF-UNVERIFIED: SURVEY.md §3.1].

:class:`SyncPipeline` is that surface on Spark: a declarative config
(plain dict — YAML-loadable) builds one Catalyst plan
``scan → project/cast → derive → anti-join(target) → append``. The same
config drives the batch path here and the streaming path in
ops/streaming.py — identical semantics, per the §1.2 contract.

The target is laid out by the day of its watermark (``wm_day=D``
directories, sources/layout.py): an increment's anti-join reads, and
its append writes, only the days its rows fall into — the reference's
re-extract window, as :class:`JdbcSyncPipeline` bounds its id read by
the window's watermark range.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.layout import WM_DAY, bucket_dirs, day_of, path_exists
from .sources.sinks import BucketedUpsertSink, upsert_append

# Example config: the fixture event log with reference-style derivations
# (rename map, declared dtypes, derived hit id + day bucket).
EXAMPLE_CONFIG: dict = {
    "source_table": "events",
    "key": "hit_id",
    "watermark_col": "hit_ts",
    "columns": {  # source → (target name, cast)
        "event_id": ("source_event_id", "bigint"),
        "ts": ("hit_ts", "timestamp_ntz"),
        "user_id": ("client_id", "bigint"),
        "event_type": ("hit_type", "string"),
        "value": ("metric_value", "double"),
    },
    "derived": {  # target name → SQL expression over *renamed* columns
        "hit_id": "sha2(concat_ws('|', client_id, unix_micros(cast(hit_ts as timestamp))), 256)",
        "hit_day": "cast(date_trunc('day', hit_ts) as date)",
    },
}


# SyncPipeline._hwm before the target's high-water mark has been read
_UNREAD = object()


def _references(expr) -> set[str]:
    """Lower-cased column names a parsed (unresolved) Catalyst
    expression reads. Names inside a lambda body count too: the parser
    leaves them all as lambda variables until analysis."""
    names, stack = set(), [expr]
    while stack:
        e = stack.pop()
        if e.getClass().getSimpleName() in (
            "UnresolvedAttribute", "UnresolvedNamedLambdaVariable"
        ):
            names.add(e.nameParts().head().lower())
        kids = e.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def _require_key_on_watermark(spark: SparkSession, config: dict) -> None:
    """Refuse a config whose key is not computed from its watermark
    column. The target is laid out by watermark day and a sync's
    anti-join reads only the days its increment touches; that finds
    every loaded copy of a key only if the key fixes the watermark.
    The derived SQL is parsed by Spark and its references followed
    through earlier derived columns."""
    parse = spark._jsparkSession.sessionState().sqlParser().parseExpression
    # column → the columns it is computed from, itself included
    lineage = {tgt.lower(): {tgt.lower()} for tgt, _ in config["columns"].values()}
    for name, expr in config.get("derived", {}).items():
        refs = _references(parse(expr))
        lineage[name.lower()] = {name.lower()}.union(
            *(lineage.get(r, {r}) for r in refs)
        )
    key, wm = config["key"], config["watermark_col"]
    if wm.lower() not in lineage.get(key.lower(), {key.lower()}):
        raise ValueError(
            f"key {key!r} is not computed from the watermark column {wm!r}: "
            "the sync target is laid out by the watermark's day and each "
            "sync's anti-join reads only the days its increment touches, "
            "which finds every loaded copy of a key only if the key fixes "
            f"the watermark; derive the key from {wm!r}"
        )


@dataclass
class SyncPipeline:
    """Config-driven incremental sync: the reference's ``.sync()``.

    ``config`` follows :data:`EXAMPLE_CONFIG`. The target is a parquet
    path (production: a lakehouse table; same plan with MERGE INTO).

    Run-scoped state: the pipeline owns one :class:`BucketedUpsertSink`
    for its target, so the target is probed and its schema inferred
    once, and it keeps the target's high-water mark (HWM). The first
    sync reads the HWM from the target; each later sync advances it to
    the max watermark of the rows it offered, which the sink takes in
    the job that already finds the touched buckets. That is exact: a
    row the anti-join drops is already in the target, so it is never
    above the old HWM. ``backfill()`` and a failed sync drop this
    state, and the next sync reads the target again.

    Layout: from the first sync or ``backfill()`` on, the target is
    bucketed by the day of ``watermark_col`` (``wm_day=D``, one file per
    touched day per write). A sync's anti-join scan is pruned to the
    days of the rows it offers, so it reads O(the increment's days), not
    O(history). That is exact only if every copy of a key has the same
    watermark, so the key must be computed from ``watermark_col``
    (``EXAMPLE_CONFIG``'s ``hit_id`` hashes ``hit_ts``); the constructor
    refuses any other config. A sync into an existing target without
    ``wm_day=`` directories (the ``bucket=K`` or flat layout of an
    older version) raises and names ``backfill()``, which rewrites it.

    PRECONDITION — single writer: while a pipeline lives, it must be its
    target's only writer. A target replaced or trimmed by anything else
    leaves a cached HWM above the true one, and the next sync would skip
    the rows in between (and a target created by anything else would be
    appended to without the anti-join). After any outside write, call
    :meth:`backfill` or use a new pipeline.
    """

    spark: SparkSession
    config: dict
    target_path: str
    _sink: BucketedUpsertSink = field(init=False, repr=False)
    _hwm: object = field(default=_UNREAD, init=False, repr=False)

    def __post_init__(self) -> None:
        _require_key_on_watermark(self.spark, self.config)
        wm = self.config["watermark_col"]
        self._sink = BucketedUpsertSink(
            self.target_path,
            self.config["key"],
            watermark_col=wm,
            bucket=(WM_DAY, day_of(wm)),
        )

    def _forget(self) -> None:
        """Drop the cached HWM and sink state; the next sync re-probes."""
        self._hwm = _UNREAD
        self._sink.invalidate()

    # -- the transform surface (EP1' steps 3-4) --------------------------

    def project(self, source: DataFrame) -> DataFrame:
        """Rename + cast per the declared column map, then derive."""
        cols: list[Column] = [
            F.col(src).cast(dtype).alias(tgt)
            for src, (tgt, dtype) in self.config["columns"].items()
        ]
        df = source.select(*cols)
        for name, expr in self.config.get("derived", {}).items():
            df = df.withColumn(name, F.expr(expr))
        return df

    # -- the sync loop (EP1' steps 1-5) ----------------------------------

    def high_water_mark(self):
        """Read max(watermark_col) from the target (None if no target).

        Reads the newest day partition only: the day is a function of
        the watermark, so the max lies there. The read goes through the
        sink, which infers the target's schema once per pipeline. Uses
        an explicit existence check — a read error on an existing
        target must raise, not silently restart the sync from zero.
        """
        if not path_exists(self.spark, self.target_path):
            return None
        dirs = bucket_dirs(self.spark, self.target_path, WM_DAY)
        days = [d for d in dirs if d is not None]
        if not days:  # null watermarks only, or not this layout
            return None
        newest = self._sink.read_target(self.spark).where(F.col(WM_DAY) == max(days))
        return newest.agg(F.max(self.config["watermark_col"])).first()[0]

    def sync(self, source: DataFrame, reextract_overlap: str = "1 hour") -> int:
        """Incremental sync: extract the tail since HWM (minus a trailing
        re-extract overlap for late data — the reference's anti-late-hit
        window), transform, drop already-loaded keys, append.

        Returns appended row count. Idempotent: re-running appends 0.
        """
        staged = self.project(source)
        try:
            if self._hwm is _UNREAD:
                self._hwm = self.high_water_mark()
            hwm = self._hwm
            if hwm is not None:
                cutoff = F.lit(hwm).cast("timestamp_ntz") - F.expr(
                    f"INTERVAL {reextract_overlap}"
                )
                staged = staged.where(F.col(self.config["watermark_col"]) > cutoff)
            n = upsert_append(
                self.spark, staged, self.target_path, self.config["key"],
                sink=self._sink,
            )
        except BaseException:
            self._forget()
            raise
        seen = self._sink.incoming_max
        if seen is not None:
            self._hwm = seen if hwm is None else max(hwm, seen)
        return n

    def backfill(self, source: DataFrame) -> int:
        """EP2': full reload — overwrite the target from scratch, in the
        layout later syncs append to. Returns the rows written."""
        self._forget()
        return self._sink.replace(self.project(source))

    def target(self) -> DataFrame:
        # read with the sink's cached schema (no footer-inference job
        # after the first read); drop its internal watermark-day
        # partition column
        return self._sink.read_target(self.spark).drop(WM_DAY)


@dataclass
class JdbcSyncPipeline(SyncPipeline):
    """:class:`SyncPipeline` against a SQL-table target over JDBC — the
    reference's ACTUAL deployment shape (``to_sql(append)`` into a DB)
    [REF-UNVERIFIED: SURVEY.md §3.1]. ``target_path`` is the JDBC URL,
    ``table`` the table name. Exercised for real against the embedded
    Derby driver pyspark bundles (ops/round7.py carries the oracled
    streaming twin ``s_jdbc_sync``); a server DB only changes the URL
    and driver class.

    Scale notes (the q_jdbc_roundtrip/s_jdbc_sync discipline): the HWM
    and the already-loaded-id set are both fetched through dbtable
    SUBQUERIES, so the aggregate and the range predicate execute inside
    the DB — per-sync read IO is bounded by the incoming window, never
    the accumulated table. The watermark crosses as epoch microseconds
    (BIGINT) to keep java.sql.Timestamp zone semantics out entirely.
    """

    table: str = "hits"
    driver: str = "org.apache.derby.jdbc.EmbeddedDriver"

    def _read(self, dbtable: str) -> DataFrame:
        return (
            self.spark.read.format("jdbc")
            .options(url=self.target_path, driver=self.driver, dbtable=dbtable)
            .load()
        )

    def _exists(self) -> bool:
        """True iff the target table exists. Only the driver's
        table-not-found condition maps to False (Derby SQLState 42X05 /
        a "does not exist" message anywhere in the chain); anything
        else — a transient connection failure, auth, timeout — re-raises.
        Swallowing those would simultaneously disable the HWM filter AND
        the anti-join dedup and append a wholesale duplicate load (the
        base class documents the invariant: a read error on an existing
        target must raise, not silently restart the sync from zero).
        """
        try:
            self._read(self.table).schema
            return True
        except Exception as e:
            table_absent = re.compile(
                r"42X05|(table|view)\b[^\n]{0,120}?\b(does not exist|not found)",
                re.IGNORECASE,
            )
            seen, cur = set(), e
            while cur is not None and id(cur) not in seen:
                seen.add(id(cur))
                # Only TABLE-scoped absence maps to False. A broader
                # "does not exist" (database/schema from a misconfigured
                # URL) must raise: treating it as table-absent would
                # silently disable the HWM filter + anti-join dedup and
                # restart the sync from zero.
                if table_absent.search(str(cur)):
                    return False
                cur = getattr(cur, "__cause__", None) or getattr(
                    cur, "java_exception", None
                )
            raise

    def high_water_mark(self):
        if not self._exists():
            return None
        wm = self.config["watermark_col"]
        # aliases quoted: Derby uppercases unquoted identifiers, and the
        # Spark-side row access is case-sensitive
        row = self._read(
            f'(SELECT MAX("unix_us") AS "hwm_us" FROM '
            f'(SELECT "{wm}_us" AS "unix_us" FROM {self.table}) t) q'
        ).first()
        if row is None or row["hwm_us"] is None:
            return None
        import datetime as _dt

        return _dt.datetime(1970, 1, 1) + _dt.timedelta(
            microseconds=row["hwm_us"]
        )

    def _staged_for_jdbc(self, source: DataFrame) -> DataFrame:
        wm = self.config["watermark_col"]
        return self.project(source).withColumn(
            f"{wm}_us", F.unix_micros(F.col(wm).cast("timestamp"))
        ).drop(wm)

    def sync(self, source: DataFrame, reextract_overlap: str = "1 hour") -> int:
        wm = self.config["watermark_col"]
        key = self.config["key"]
        staged = self.project(source)
        hwm = self.high_water_mark()
        if hwm is not None:
            cutoff = F.lit(hwm).cast("timestamp_ntz") - F.expr(
                f"INTERVAL {reextract_overlap}"
            )
            staged = staged.where(F.col(wm) > cutoff)
        inc = staged.withColumn(
            f"{wm}_us", F.unix_micros(F.col(wm).cast("timestamp"))
        ).drop(wm).persist()
        try:
            lo, hi = inc.agg(
                F.min(f"{wm}_us"), F.max(f"{wm}_us")
            ).first()
            if lo is None:
                return 0
            fresh = inc
            if self._exists():
                loaded = self._read(
                    f'(SELECT "{key}" FROM {self.table} '
                    f'WHERE "{wm}_us" BETWEEN {lo} AND {hi}) q'
                )
                fresh = inc.join(loaded, key, "left_anti")
            fresh = fresh.persist()
            try:
                n = fresh.count()
                if n:
                    fresh.write.mode("append").option(
                        "driver", self.driver
                    ).jdbc(self.target_path, self.table)
            finally:
                fresh.unpersist()
            return n
        finally:
            inc.unpersist()

    def backfill(self, source: DataFrame) -> int:
        staged = self._staged_for_jdbc(source)
        staged.write.mode("overwrite").option(
            "truncate", "true"
        ).option("driver", self.driver).jdbc(self.target_path, self.table)
        return self._read(self.table).count()

    def target(self) -> DataFrame:
        return self._read(self.table)
