"""The DuckDB oracle comparison, as the grading driver makes it.

:func:`register_views` builds the driver's oracle environment (each
``io.TABLES`` table as a view of its parquet file). :func:`norm_rows` is
the driver-style comparison form. :func:`strict_problems` compares at the
pandas level with no numeric coercion, as the driver hashes: a
Decimal-vs-float64 column split (round 2, ``q_cast_types``) or a list
cell fails there but passes :func:`norm_rows`. ``perfbench/`` keeps its
own check on purpose, so the benchmark stays independent of the engine.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pandas as pd

from .io import TABLES


def register_views(con, sf_dir: str) -> None:
    """Register every fixture table of ``sf_dir`` as a view on ``con``."""
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows):
    """``(cols, rows)`` with columns sorted by name, cells normalized and
    rows sorted: equal results give equal pairs."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def _canon(df: pd.DataFrame):
    """Sort columns by name, rows by stringified tuple; return str cells
    and the names of the unhashable cell types met."""
    df = df[sorted(df.columns)]
    cells = []
    bad_types = set()
    for _, row in df.iterrows():
        t = []
        for v in row:
            if isinstance(v, (list, dict, np.ndarray)):
                bad_types.add(type(v).__name__)
                v = str(v)
            if v is None or v is pd.NaT or (
                isinstance(v, (float, np.floating)) and np.isnan(v)
            ):
                t.append("<NULL>")
            elif isinstance(v, (bool, np.bool_)):
                t.append(f"b:{bool(v)}")
            elif isinstance(v, (int, np.integer)):
                # int32 vs int64 width is benign cross-engine; value matters
                t.append(f"i:{int(v)}")
            elif isinstance(v, (float, np.floating)):
                t.append(f"f:{float(v)!r}")
            elif isinstance(v, pd.Timestamp):
                t.append(f"t:{v.isoformat()}")
            else:
                # Decimal, date, str, bytes keep their class name so a
                # Decimal-vs-float64 split (the r2 bug class) is caught
                t.append(f"{type(v).__name__}:{v}")
        cells.append(tuple(t))
    cells.sort()
    return list(df.columns), cells, bad_types


def strict_problems(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """The problems the driver's pandas-level comparison would find;
    empty when the two results hash alike."""
    # duckdb dates come back datetime64; spark dates come back object[date]
    # — the driver sees the same split for every green date query, so
    # align that one known-benign case only.
    for c in spark_pdf.columns:
        if len(spark_pdf) and spark_pdf[c].dtype == object and spark_pdf[c].map(
            lambda v: v.__class__.__name__ == "date"
        ).all():
            spark_pdf[c] = pd.to_datetime(spark_pdf[c])
    sc, srows, sbad = _canon(spark_pdf)
    dc, drows, dbad = _canon(duck_pdf)
    probs = []
    if sc != dc:
        probs.append(f"cols {sc} != {dc}")
    if sbad or dbad:
        probs.append(f"unhashable cells spark={sbad} duck={dbad}")
    if srows != drows:
        diff = next(
            (i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b
        ) if len(srows) == len(drows) else ("len", len(srows), len(drows))
        probs.append(f"values differ: {diff}")
    return probs
