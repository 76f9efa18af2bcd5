"""Registry hygiene: keys well-formed, oracles parseable by DuckDB.

Cheap structural guards that catch SQL rot or registration mistakes
before the (slower) differential suite runs.
"""

from __future__ import annotations

import re

from conftest import SF_SMALL

from googleanalytics_etl_spark.oracle import register_views
from googleanalytics_etl_spark.registry import REGISTRY, oracle_sql, queries


def test_keys_wellformed():
    q = queries()
    assert len(q) >= 75
    for k in q:
        assert re.fullmatch(r"[qsx]_[a-z0-9_]+", k), f"bad key name {k!r}"


def test_every_query_has_doc():
    queries()
    for k, entry in REGISTRY.items():
        assert (entry.builder.__doc__ or entry.doc), f"{k} lacks a docstring"


def test_oracles_parse_in_duckdb(duck):
    register_views(duck, SF_SMALL)
    for k, sql in oracle_sql().items():
        try:
            duck.execute(f"EXPLAIN {sql}")
        except Exception as e:  # pragma: no cover
            raise AssertionError(f"oracle for {k} fails to plan: {e}") from e
