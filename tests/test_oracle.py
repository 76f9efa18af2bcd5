"""Differential harness: every registered operator vs its DuckDB oracle.

Replicates (strictly: exceeds) the driver's t2 check — row count, sorted
column names, and *exact* value equality after canonical normalization.
The engine's determinism conventions (registry.py docstring) are designed
to make even double-typed outputs bit-identical across engines; this test
enforces that, so any convention slip fails locally before the driver
sees it.
"""

from __future__ import annotations

import pytest

from googleanalytics_etl_spark.oracle import norm_rows
from googleanalytics_etl_spark.registry import REGISTRY, oracle_sql, queries

from conftest import SF_SMALL


def _spark_result(spark, key, sf_dir):
    df = queries()[key](spark, sf_dir)
    return df.columns, [tuple(r) for r in df.collect()]


def _duck_result(duck, key):
    cur = duck.execute(oracle_sql()[key])
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


queries()  # populate REGISTRY before parametrization
ORACLED = sorted(k for k in REGISTRY if REGISTRY[k].oracle is not None)
ROWS_ONLY = sorted(k for k in REGISTRY if REGISTRY[k].oracle is None)


@pytest.mark.parametrize("key", ORACLED)
def test_oracle_match(spark, duck_small, key):
    s_cols, s_rows = _spark_result(spark, key, SF_SMALL)
    d_cols, d_rows = _duck_result(duck_small, key)
    s_cols, s_norm = norm_rows(s_cols, s_rows)
    d_cols, d_norm = norm_rows(d_cols, d_rows)
    assert s_cols == d_cols, f"{key}: column names differ: {s_cols} vs {d_cols}"
    assert len(s_norm) == len(d_norm), (
        f"{key}: row count {len(s_norm)} (spark) vs {len(d_norm)} (duckdb)"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
    ]
    assert not mismatches, (
        f"{key}: {len(mismatches)} differing rows; first 3: {mismatches[:3]}"
    )


@pytest.mark.parametrize("key", ROWS_ONLY)
def test_rows_only_runs(spark, key):
    df = queries()[key](spark, SF_SMALL)
    n = df.count()
    assert n >= 0
    assert df.columns


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    assert df.count() > 0


# Spark dtype → compatible DuckDB column_type(s). The driver compares
# schemas; a value-hash match with a type mismatch would still fail.
_TYPE_COMPAT = {
    "bigint": {"BIGINT", "HUGEINT"},
    "int": {"INTEGER"},
    "smallint": {"SMALLINT"},
    "tinyint": {"TINYINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP"},
    "timestamp_ntz": {"TIMESTAMP"},
    "decimal(12,2)": {"DECIMAL(12,2)"},
    "array<float>": {"FLOAT[]"},
    "array<string>": {"VARCHAR[]"},
}


@pytest.mark.parametrize("key", ORACLED)
def test_schema_types_compatible(spark, duck_small, key):
    sdf = queries()[key](spark, SF_SMALL)
    s_types = dict(sdf.dtypes)
    d_types = {
        r[0]: r[1]
        for r in duck_small.execute(f"DESCRIBE {oracle_sql()[key]}").fetchall()
    }
    assert set(s_types) == set(d_types), (
        f"{key}: column sets differ {sorted(s_types)} vs {sorted(d_types)}"
    )
    bad = []
    for col, st in s_types.items():
        allowed = _TYPE_COMPAT.get(st)
        if allowed is None or d_types[col] not in allowed:
            bad.append((col, st, d_types[col]))
    assert not bad, f"{key}: type mismatches {bad}"
