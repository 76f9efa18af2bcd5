"""The benchmark workloads.

Each workload generates its inputs from the run's seed, names one warm-up
operation for set-up, lists the operations of one measured pass, runs one
operation, and checks the outputs against an independent DuckDB
computation outside the timed window.
"""

from __future__ import annotations

import math
import time
from contextlib import nullcontext
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@dataclass
class Op:
    name: str
    kind: str  # "increment", "query", "batch", "stream"
    arg: object = None


@dataclass
class OpResult:
    op: Op
    seconds: float
    units: float  # work done: rows offered, queries, or docs processed
    error: str | None = None
    rows: list | None = None
    columns: list | None = None


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def normalize(cols, rows):
    """The oracle comparison's canonical form: columns sorted by name,
    Decimal → float, datetimes → naive ISO strings, NaN → "NaN", rows
    sorted (None last)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, Decimal):
            return float(v)
        if isinstance(v, datetime):
            return v.replace(tzinfo=None).isoformat()
        if isinstance(v, date):
            return v.isoformat()
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    out = sorted(
        (tuple(cell(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )
    return [cols[i] for i in idx], out


def oracle_check(key: str, sql: str, sf_dir: Path, columns, rows) -> Check:
    con = duckdb.connect()
    try:
        for t in FIXTURE_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        cur = con.execute(sql)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
    finally:
        con.close()
    sc, sn = normalize(columns, rows)
    dc, dn = normalize(dcols, drows)
    ok = sc == dc and sn == dn
    return Check(f"oracle:{key}", ok, "" if ok else
                 f"spark {len(rows)} rows {sc} vs duckdb {len(drows)} rows {dc}")


class Workload:
    name = ""

    def __init__(self, work: Path, seed: int) -> None:
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.props: dict = {}

    def input_dirs(self) -> list[Path]:
        """Directories whose names key the engine's stage caches."""
        return []

    def prepare(self) -> None: ...

    def warmup(self, spark, cycle: int, tracer) -> None: ...

    def passes(self):
        """Yield the operation lists of successive measured passes."""
        raise NotImplementedError

    def run_op(self, spark, op: Op, tracer) -> OpResult: ...

    def verify(self, spark, results: list[OpResult]) -> list[Check]: ...


def _span(tracer, name, layer):
    return tracer.span(name, layer) if tracer else nullcontext()


def _build_and_act(spark, builder, sf_dir, tracer, collect: bool):
    """Build a registered key's DataFrame, then run its action: collect, or
    a write to the ``noop`` sink.

    A traced collect plans first, in its own span: ``collect`` runs the
    same query execution, so the plan is built once. A ``noop`` write
    plans a new command of its own, so it gets no plan span, and its
    planning counts in the action span.
    """
    with _span(tracer, "build", "ops"):
        df = builder(spark, str(sf_dir))
    if not collect:
        with _span(tracer, "action", "spark.action"):
            df.write.format("noop").mode("overwrite").save()
        return None, None
    if tracer:
        with tracer.span("plan", "spark.plan"):
            df._jdf.queryExecution().executedPlan()
    with _span(tracer, "action", "spark.action"):
        return df.columns, [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------------------


class EtlSync(Workload):
    """GA-style incremental hit sync: paged source → typed projection →
    anti-join append into a bucketed parquet target → report tables.

    The reports are rebuilt from the whole target after each sync with
    ``reports.materialize_reports``. The incremental
    ``reports.update_daily_metrics`` is not used: it recomputes only days
    at or after the report's last day, so late rows for the day before
    (a cut in the first hour after midnight) leave that day's row stale.
    """

    name = "etl_sync"
    SPEC = gen.IncrementSpec(
        increments=30, rows=100_000, users=1_500, boundary_jitter=0.15,
        redelivered_share=0.10, late_share=0.20, late_window_min=50)
    WARM = gen.IncrementSpec(
        increments=3, rows=3_000, users=150, boundary_jitter=0.15,
        redelivered_share=0.10, late_share=0.20, late_window_min=50)
    PASS = 3  # increments per measured pass; odd, so the median is one of them

    def prepare(self) -> None:
        self.incs = gen.write_increments(self.work / "incs", self.rng, self.SPEC)
        self.warm = gen.write_increments(self.work / "warm", self.rng, self.WARM)
        self.target = self.work / "target"
        self.report = self.work / "report"
        self.fed: list[Path] = []
        self.props = {"increments": self.SPEC.__dict__}

    def _pipeline(self, spark, target: Path):
        from googleanalytics_etl_spark import etl

        return etl.SyncPipeline(spark, etl.EXAMPLE_CONFIG, str(target))

    def _increment(self, spark, pipe, inc: Path, report: Path) -> int:
        from googleanalytics_etl_spark import reports
        from googleanalytics_etl_spark.sources import paged

        src = paged.read_paged(spark, str(inc))
        n = pipe.sync(src)
        events = pipe.target().selectExpr(
            "source_event_id AS event_id", "hit_ts AS ts", "hit_type AS event_type",
            "metric_value AS value", "client_id AS user_id")
        reports.materialize_reports(spark, events, str(report))
        return n

    def warmup(self, spark, cycle: int, tracer) -> None:
        # one shared warm-up target: cycle 0 takes the first-load path,
        # later cycles the bucketed append path the measured ops take
        pipe = self._pipeline(spark, self.work / "warm_target")
        self._increment(spark, pipe, self.warm[cycle % len(self.warm)],
                        self.work / "warm_report")

    def passes(self):
        for i in range(0, len(self.incs), self.PASS):
            yield [Op(d.name, "increment", d) for d in self.incs[i:i + self.PASS]]

    def run_op(self, spark, op: Op, tracer) -> OpResult:
        if not hasattr(self, "pipe"):
            self.pipe = self._pipeline(spark, self.target)
        rows = pq.read_metadata(op.arg / "events.parquet").num_rows
        t0 = time.perf_counter()
        self._increment(spark, self.pipe, op.arg, self.report)
        dt = time.perf_counter() - t0
        self.fed.append(op.arg)
        return OpResult(op, dt, rows)

    def target_bytes_per_row(self) -> float:
        files = [p for d in (self.target, self.report) for p in d.rglob("*.parquet")]
        con = duckdb.connect()
        try:
            n = con.execute(
                f"SELECT count(*) FROM read_parquet('{self.target}/**/*.parquet')"
            ).fetchone()[0]
        finally:
            con.close()
        return sum(p.stat().st_size for p in files) / max(n, 1)

    def verify(self, spark, results) -> list[Check]:
        from googleanalytics_etl_spark.registry import oracle_sql
        from googleanalytics_etl_spark.sources import paged

        fed = "[" + ", ".join(f"'{d}/events.parquet'" for d in self.fed) + "]"
        con = duckdb.connect()
        checks = []
        try:
            con.execute(
                f"CREATE VIEW target AS SELECT * FROM read_parquet("
                f"'{self.target}/**/*.parquet', hive_partitioning = true)")
            con.execute(
                "CREATE VIEW loaded AS SELECT DISTINCT event_id, user_id, "
                "ts::TIMESTAMP AS ts, event_type, value, "
                "sha256(concat_ws('|', user_id::VARCHAR, "
                "epoch_us(ts::TIMESTAMP)::VARCHAR)) AS hit_id "
                f"FROM read_parquet({fed})")
            dup = con.execute(
                "SELECT count(*) - count(DISTINCT hit_id) FROM target").fetchone()[0]
            checks.append(Check("target:no_duplicate_key", dup == 0, f"{dup} duplicates"))
            diff = con.execute(
                "SELECT (SELECT count(*) FROM (SELECT hit_id FROM loaded "
                "EXCEPT SELECT hit_id FROM target)), "
                "(SELECT count(*) FROM (SELECT hit_id FROM target "
                "EXCEPT SELECT hit_id FROM loaded))").fetchone()
            checks.append(Check("target:key_set", diff == (0, 0),
                                f"missing {diff[0]}, unexpected {diff[1]}"))
            con.execute(
                "CREATE VIEW expect AS SELECT date_trunc('day', ts) AS day, event_type, "
                "count(*) AS n, sum(value::DECIMAL(18,4))::DOUBLE AS total_value, "
                "count(DISTINCT user_id) AS n_users FROM loaded GROUP BY ALL")
            con.execute(
                "CREATE VIEW got AS SELECT day::TIMESTAMP AS day, event_type, n, "
                "total_value, n_users FROM read_parquet("
                f"'{self.report}/daily_metrics/**/*.parquet')")
            stale = sorted({str(r[0].date()) for r in con.execute(
                "FROM expect EXCEPT FROM got").fetchall()})
            extra = con.execute("SELECT count(*) FROM (FROM got EXCEPT FROM expect)").fetchone()[0]
            checks.append(Check("report:daily_metrics", not stale and not extra,
                                f"days missing or stale: {stale}; unexpected rows: {extra}"))
            # sessions: the q_flagship oracle over the loaded rows
            con.execute("CREATE VIEW events AS SELECT event_id, user_id, ts, "
                        "event_type, value FROM loaded")
            cur = con.execute(oracle_sql()["q_flagship"])
            dcols, drows = [d[0] for d in cur.description], cur.fetchall()
            cur = con.execute("SELECT * EXCLUDE (user_bucket) FROM read_parquet("
                              f"'{self.report}/sessions/**/*.parquet', hive_partitioning = true)")
            scols, srows = [d[0] for d in cur.description], cur.fetchall()
            ok = normalize(scols, srows) == normalize(dcols, drows)
            checks.append(Check("report:sessions", ok, "" if ok else
                                f"{len(srows)} session rows vs oracle {len(drows)}"))
        finally:
            con.close()
        last = self.fed[-1]
        n = self.pipe.sync(paged.read_paged(spark, str(last)))
        checks.append(Check("resync:appends_zero", n == 0, f"appended {n}"))
        return checks


# ---------------------------------------------------------------------------


class RegisteredKeys(Workload):
    """A workload of registered ``queries()`` keys; set-up runs
    ``WARM_KEYS`` on the small inputs in ``warm_dir``."""

    WARM_KEYS: tuple = ()

    def warmup(self, spark, cycle: int, tracer) -> None:
        from googleanalytics_etl_spark.registry import queries

        q = queries()
        for k in self.WARM_KEYS:
            q[k](spark, str(self.warm_dir)).write.format("noop").mode("overwrite").save()


class AnalyticsQueries(RegisteredKeys):
    """Short read-only registered queries, one client, noop sink."""

    name = "analytics_queries"
    SF = 0.1
    MIX = (
        "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q8",
        "q_tpch_q18", "q_tpch_q21", "q_sessionize", "q_flagship",
        "q_flagship2", "q_window_rank", "q_pivot", "q_retention",
        "q_cohort_ltv", "q_join_inner", "q_join_left", "q_join_full",
        "q_join_semi", "q_join_anti", "q_join_broadcast", "q_join_asof",
        "q_join_range", "q_join_null_safe", "q_scan_pruned",
    )
    WARM_KEYS = ("q_tpch_q1", "q_sessionize")

    def input_dirs(self):
        return [self.work / "pb_tables", self.work / "pb_warm"]

    def prepare(self) -> None:
        self.sf_dir, self.warm_dir = self.input_dirs()
        gen.write_fixtures(self.sf_dir, self.rng, self.SF)
        gen.write_fixtures(self.warm_dir, self.rng, 0.001)
        self.props = {"sf": self.SF, "mix": list(self.MIX)}

    def passes(self):
        while True:  # each pass: the whole mix in a seeded order
            yield [Op(k, "query") for k in self.rng.permutation(self.MIX)]

    def run_op(self, spark, op: Op, tracer) -> OpResult:
        from googleanalytics_etl_spark.registry import queries

        t0 = time.perf_counter()
        _build_and_act(spark, queries()[op.name], self.sf_dir, tracer, collect=False)
        return OpResult(op, time.perf_counter() - t0, 1)

    def verify(self, spark, results) -> list[Check]:
        from googleanalytics_etl_spark.registry import oracle_sql, queries

        q, o = queries(), oracle_sql()
        checks = []
        for key in sorted({r.op.name for r in results if r.error is None}):
            if key not in o:
                continue
            df = q[key](spark, str(self.sf_dir))
            checks.append(oracle_check(
                key, o[key], self.sf_dir, df.columns, [tuple(r) for r in df.collect()]))
        return checks


# ---------------------------------------------------------------------------


class Curation(RegisteredKeys):
    """LLM-data curation operators over a corpus with planted
    near-duplicate clusters: batch keys, then their streaming twins."""

    name = "curation"
    # the sf0.1 near-duplicate share, on a tenth of its 5,000 docs so that
    # one pass fits a run; the cluster skew is chosen (see gen.CorpusSpec)
    CORPUS = gen.CorpusSpec(docs=500, near_dup_share=0.05, zipf_a=2.0, max_cluster=12)
    WARM_CORPUS = gen.CorpusSpec(docs=100, near_dup_share=0.05, zipf_a=2.0, max_cluster=4)
    # the keys with eager materialize sites and hand-written pair
    # generation; each calls DataFrame.materialize at least once
    BATCH = ("x_dedup_near", "x_dedup_eval", "x_lsh_tuning", "x_containment")
    STREAM = ("s_winnow_matches",)
    WARM_KEYS = ("x_dedup_near",)

    def input_dirs(self):
        return [self.work / "pb_corpus", self.work / "pb_warm"]

    def prepare(self) -> None:
        self.sf_dir, self.warm_dir = self.input_dirs()
        gen.write_fixtures(self.sf_dir, self.rng, 0.001, self.CORPUS)
        gen.write_fixtures(self.warm_dir, self.rng, 0.001, self.WARM_CORPUS)
        self.props = {"corpus": self.CORPUS.__dict__,
                      "batch": list(self.BATCH), "stream": list(self.STREAM)}

    def passes(self):
        while True:
            yield [Op(k, "batch") for k in self.BATCH] + [
                Op(k, "stream") for k in self.STREAM]

    def run_op(self, spark, op: Op, tracer) -> OpResult:
        from googleanalytics_etl_spark.registry import queries

        t0 = time.perf_counter()
        cols, rows = _build_and_act(
            spark, queries()[op.name], self.sf_dir, tracer, collect=True)
        return OpResult(op, time.perf_counter() - t0, self.CORPUS.docs,
                        rows=rows, columns=cols)

    def verify(self, spark, results) -> list[Check]:
        from googleanalytics_etl_spark.registry import oracle_sql

        o = oracle_sql()
        checks, seen = [], set()
        for r in results:
            if r.error is None and r.op.name in o and r.op.name not in seen:
                seen.add(r.op.name)
                checks.append(oracle_check(
                    r.op.name, o[r.op.name], self.sf_dir, r.columns, r.rows))
        return checks


WORKLOADS = {w.name: w for w in (EtlSync, AnalyticsQueries, Curation)}
