"""The one stage protocol (``scratch.py``).

A source lint keeps the staging of fixture copies in that one module:
the ``.scratch`` root, the ``os.rename`` publish, a marker-file
existence check guarding a stage (``_SUCCESS``, ``_STAGED``, ...) and an
``st_mtime_ns`` source fingerprint appear nowhere else in the package,
so every stage is keyed on its source file and build parameters and
published atomically by ``scratch.stage``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "googleanalytics_etl_spark"
STAGE_MODULE = PKG / "scratch.py"
MARKER = re.compile(r"_[A-Z][A-Z_]*")

# In-memory caches keyed on a file's stat, not stages: io.load's footer
# schema cache and the paged source's footer-metadata cache.
EXEMPT = {
    ("io.py", "_schema_key"),
    ("sources/paged.py", "_read_metadata_cached"),
}


def _exempt_lines(path: Path, tree: ast.Module) -> set[int]:
    return {
        line
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and (str(path.relative_to(PKG)), node.name) in EXEMPT
        for line in range(node.lineno, node.end_lineno + 1)
    }


def _marker_in(node: ast.AST, marker_names: set[str]) -> bool:
    """Whether ``node`` spells a marker file: a ``"_UPPER"`` string
    constant, or a name bound to an expression that holds one."""
    return any(
        (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and MARKER.fullmatch(n.value)
        )
        or (isinstance(n, ast.Name) and n.id in marker_names)
        for n in ast.walk(node)
    )


def _stage_sites(path: Path) -> list[str]:
    source = path.read_text()
    tree = ast.parse(source)
    exempt = _exempt_lines(path, tree)
    marker_names = {
        t.id
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign) and _marker_in(node.value, set())
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.ClassDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
    }
    lines = source.splitlines()
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            root = id(node) not in docstrings and ".scratch" in node.value.split("/")
            if root:
                hits.append(node.lineno)
        elif isinstance(node, ast.Attribute) and node.attr == "st_mtime_ns":
            hits.append(node.lineno)
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            rename = f.attr == "rename" and isinstance(f.value, ast.Name) and f.value.id == "os"
            guard = f.attr == "exists" and any(
                _marker_in(n, marker_names) for n in [f.value, *node.args]
            )
            if rename or guard:
                hits.append(f.end_lineno)
    return [
        f"{path.relative_to(PKG.parent)}:{line}: {lines[line - 1].strip()}"
        for line in sorted(set(hits))
        if line not in exempt
    ]


def test_no_stage_protocol_outside_stage_module():
    """A new stage goes through ``scratch.stage``; a hand-written
    ``.scratch`` root, ``os.rename`` publish, marker-file guard or
    ``st_mtime_ns`` fingerprint fails here with its location."""
    hits = [
        hit
        for path in sorted(PKG.rglob("*.py"))
        if path != STAGE_MODULE
        for hit in _stage_sites(path)
    ]
    assert not hits, "stage protocol outside scratch.py:\n" + "\n".join(hits)


def test_lint_sees_the_stage_module_itself():
    """The lint is not vacuous: run on ``scratch.py`` it finds the root,
    the publish, the marker guard and the fingerprint."""
    found = "\n".join(_stage_sites(STAGE_MODULE))
    for needle in ('".scratch"', "os.rename(", "done.exists()", "st_mtime_ns"):
        assert needle in found, f"{needle} not seen in scratch.py:\n{found}"
