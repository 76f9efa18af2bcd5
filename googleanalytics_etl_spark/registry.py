"""Operator registry: the single source of truth for the driver contract.

Every operator from SURVEY.md §2 registers here exactly once, pairing

- a **builder**: ``(SparkSession, sf_dir) -> DataFrame`` — the idiomatic
  Spark implementation, and
- an **oracle**: the equivalent ANSI SQL DuckDB runs on the same parquet
  (``None`` for genuinely non-SQL-expressible ops → the driver records a
  weaker rows-only check).

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over this
registry, and the pytest differential harness iterates it, so local tests
and the driver's correctness gate exercise the identical surface.

The grading driver checks the first 50 ``queries()`` keys per round. The
order is computed once per process from the evidence ledger
(:func:`.ledger.gather`), never from import order (:func:`driver_order`):
keys rewritten since their last official row, then keys never checked
or failing at last contact, then the rest, oldest evidence first; ties
by key name.

Cross-engine determinism conventions (SURVEY.md §7 "hard parts"):

- **Doubles are never summed as doubles.** Float addition is not
  associative; Spark's partial/final aggregation and DuckDB's segment
  trees would disagree in the last ulps. Convention: cast to
  ``DECIMAL(18,4)`` (exact, associative — and scale 4 admits *no* exact
  round-half ties for binary doubles, so both engines round identically),
  sum exactly, cast the result back to DOUBLE. Helpers: :func:`dsum` /
  :func:`sql_dsum`.
- Alias every computed column identically on both sides; the driver sorts
  columns by name before hashing.
- **Never CAST a double straight to an integer type in an oracle-visible
  expression**: Spark truncates toward zero, DuckDB rounds to nearest
  (found by tests/test_differential_fuzz.py). Wrap in FLOOR/CEIL/ROUND
  first so both engines compute the same integer.
- Window/rank integer outputs are cast to BIGINT on both sides (Spark
  ``row_number`` is int, DuckDB's is BIGINT).
- Every ``ORDER BY`` used for ranking/top-k carries a unique tiebreaker.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ledger

Builder = Callable[[SparkSession, str], DataFrame]

# Exact-sum decimal type: 14 integer digits covers every fixture metric
# (max ~1e5 * 6e5 rows ≈ 6e10 per group) with room to 1e13; scale 4 has no
# representable round-half ties (proof in module docstring).
DEC = "decimal(18,4)"


@dataclass(frozen=True)
class Query:
    key: str
    builder: Builder
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(key: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``key``."""

    def deco(fn: Builder) -> Builder:
        if key in REGISTRY:
            raise ValueError(f"duplicate query key {key!r}")
        REGISTRY[key] = Query(key, fn, oracle, doc or (fn.__doc__ or ""))
        return fn

    return deco


def _populate() -> None:
    from . import ops as _ops  # noqa: F401  (populates REGISTRY on import)


# Keys rewritten after their last official correctness row: round 12's
# and round 13's rewrites, and the keys whose MinHash/LSH plans were
# rebuilt after round 13 (every key reaching ``_minhash_parts`` or
# ``_minhash_pairs``). Each leads the driver order until a round newer
# than ``_REWRITTEN_THROUGH`` checks it again.
_REWRITTEN = frozenset({
    # round 12
    "x_mmr_rerank", "x_power_iteration", "x_clustering_coef",
    "q_join_range_banded", "s_error_budget",
    # round 13
    "x_dedup_eval", "x_containment", "x_graph_2hop", "x_weighted_jaccard",
    "x_graph_triangles", "x_hits", "s_semdedup", "s_dedup_near",
    "s_winnow_matches",
    # MinHash/LSH rebuild
    "x_lsh_tuning", "x_dedup_near", "x_dedup_near_survivors",
    "x_dedup_clusters", "x_dedup_cc_star", "x_dedup_threshold_curve",
    "x_split_contamination", "x_cross_source_dups", "x_minhash_accuracy",
    "x_cc_sizes",
})
_REWRITTEN_THROUGH = 13


def driver_order(keys: Iterable[str], latest: dict[str, tuple[int, str]]) -> list[str]:
    """``keys`` in driver order, given the ledger's newest ``(round,
    status)`` per key (:func:`.ledger.gather`): rewritten keys not yet
    re-checked, then keys never checked or failing at last contact, then
    every other key, oldest evidence first; ties by key name."""

    def rank(key: str) -> tuple[int, int, str]:
        rec = latest.get(key)
        if key in _REWRITTEN and (rec is None or rec[0] <= _REWRITTEN_THROUGH):
            return 0, 0, key
        if rec is None or rec[1] == "fail":
            return 1, 0, key
        return 2, rec[0], key

    return sorted(keys, key=rank)


@functools.cache
def _ordered() -> tuple[str, ...]:
    """The driver order, computed once per process (perfbench calls
    ``queries()`` per operation)."""
    _populate()
    return tuple(driver_order(REGISTRY, ledger.gather()[0]))


def queries() -> dict[str, Builder]:
    return {k: REGISTRY[k].builder for k in _ordered()}


def oracle_sql() -> dict[str, str]:
    return {
        k: REGISTRY[k].oracle for k in _ordered() if REGISTRY[k].oracle is not None
    }


# ---------------------------------------------------------------------------
# Cross-engine exact-aggregation helpers
# ---------------------------------------------------------------------------


def dsum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM of a double column: exact decimal, back to double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE) AS {alias}"


def davg(col: Column | str, alias: str) -> Column:
    """Deterministic AVG: exact decimal sum cast to double, / count (IEEE)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).alias(alias)


# ---------------------------------------------------------------------------
# Fast exact-sum path for ≤4-decimal metric columns
# ---------------------------------------------------------------------------
#
# The fixture metrics (and typical monetary data) are exact ≤4-decimal
# values stored as nearest doubles (verified for every metric column and
# the price*(1-discount) product at all SFs). For such x, round(x*10⁴)
# recovers the exact scaled integer — the double multiply's error (≤ half
# an ulp of ~1e9, i.e. ~1e-7) is far smaller than the 0.5 distance to a
# rounding boundary — so summing longs equals the DECIMAL(18,4) sum
# bit-for-bit, at ~2× the throughput (no 128-bit decimal arithmetic in
# the aggregation loop; measured 1.10s → 0.55s on the sf0.1 Q1 aggs).
# The final long/10⁴ division and the decimal→double cast both produce
# the nearest double of the same exact rational → identical results.
#
# PRECONDITION: input is exactly representable at scale ≤4. For
# arbitrary-precision doubles use dsum/sql_dsum (always safe). The
# oracle SQL stays in decimal form either way — the differential tests
# prove the equivalence on every query that adopts this path.

_SCALE4 = 10_000


def fscaled(col: Column | str) -> Column:
    """round(x·10⁴) as long — the exact scaled-integer form of x."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * _SCALE4).cast("long")


def fsum(col: Column | str, alias: str) -> Column:
    """Exact SUM for ≤4-decimal metrics via long arithmetic (see above).

    Headroom: scaled values are ~1e9; a single group overflows int64
    only beyond ~1e9 rows per group — switch that group's pipeline to
    :func:`dsum` (128-bit decimal) if a 100 TB aggregate ever groups
    that coarsely.
    """
    return (F.sum(fscaled(col)) / float(_SCALE4)).alias(alias)


def favg(col: Column | str, alias: str) -> Column:
    """Exact-sum AVG for ≤4-decimal metrics (== davg, 2× faster)."""
    c = F.col(col) if isinstance(col, str) else col
    return ((F.sum(fscaled(c)) / float(_SCALE4)) / F.count(c)).alias(alias)


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE)"
        f" / COUNT({expr}) AS {alias}"
    )
