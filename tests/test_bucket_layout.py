"""The one bucket layout (``sources/layout.py``).

A source lint keeps the layout in that one module: the bucket hash
``pmod(xxhash64(...), n)``, the watermark-day bucket
``unix_date(to_date(...))`` (as a call or in SQL text) and a
``partitionBy`` on a bucket or ``wm_day`` column are spelled out nowhere
else in the package, so every keyed incremental write (the sync sink,
the streaming upsert keys, the CDC MERGE state, the durable fold, the
xsi band index) shares one bucket expression per layout and one writer.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

from googleanalytics_etl_spark.sources.layout import WM_DAY

PKG = Path(__file__).resolve().parents[1] / "googleanalytics_etl_spark"
LAYOUT = PKG / "sources" / "layout.py"
DAY_SQL = re.compile(r"unix_date\s*\(\s*to_date\s*\(", re.IGNORECASE)

# Functions whose bucket-like expressions are not the stored hash-bucket
# layout: the salts that spread a hot join or distinct key over
# reducers, and the sessions report's ``user_bucket`` partitioning
# (``pmod(user_id, 16)``, a report layout its readers depend on).
EXEMPT = {
    ("skew.py", "salted_join"),
    ("skew.py", "salted_distinct_count"),
    ("reports.py", "materialize_reports"),
}


def _name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def _exempt_lines(path: Path, tree: ast.Module) -> set[int]:
    return {
        line
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and (str(path.relative_to(PKG)), node.name) in EXEMPT
        for line in range(node.lineno, node.end_lineno + 1)
    }


def _layout_sites(path: Path) -> list[str]:
    source = path.read_text()
    tree = ast.parse(source)
    exempt = _exempt_lines(path, tree)
    lines = source.splitlines()
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if DAY_SQL.search(node.value) and node.lineno not in exempt:
                hits.append(node.lineno)
            continue
        if not isinstance(node, ast.Call):
            continue
        line = node.func.end_lineno  # where the called name is
        name = _name(node.func)
        inner = (
            _name(node.args[0].func)
            if node.args and isinstance(node.args[0], ast.Call)
            else None
        )
        hashed = name == "pmod" and inner == "xxhash64"
        day = name == "unix_date" and inner == "to_date"
        on_bucket = name == "partitionBy" and any(
            isinstance(a, ast.Constant)
            and isinstance(a.value, str)
            and (a.value.endswith("bucket") or a.value == WM_DAY)
            for a in node.args
        )
        if (hashed or day or on_bucket) and line not in exempt:
            hits.append(line)
    return [
        f"{path.relative_to(PKG.parent)}:{line}: {lines[line - 1].strip()}"
        for line in sorted(hits)
    ]


def test_no_bucket_layout_outside_layout_module():
    """A new bucketed write goes through ``bucket_of`` or ``day_of``
    and ``bucket_writer``; a hand-written bucket hash, watermark-day
    bucket or bucket ``partitionBy`` fails here with its location."""
    hits = [
        hit
        for path in sorted(PKG.rglob("*.py"))
        if path != LAYOUT
        for hit in _layout_sites(path)
    ]
    assert not hits, "bucket layout outside sources/layout.py:\n" + "\n".join(
        hits
    )

