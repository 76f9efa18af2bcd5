"""``tools/verify.py`` verifies the checkout it sits in.

A copy of the package, ``__spark_entry__.py`` and the tool, run from its
own directory, must import the copy's package, not the one this test
suite runs from.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
from pathlib import Path

from conftest import SF_SMALL

ROOT = Path(__file__).resolve().parents[1]


def test_verify_tool_checks_its_own_checkout(tmp_path):
    copy = tmp_path.resolve() / "checkout"
    shutil.copytree(
        ROOT / "googleanalytics_etl_spark",
        copy / "googleanalytics_etl_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    shutil.copy(ROOT / "__spark_entry__.py", copy)
    (copy / "tools").mkdir()
    shutil.copy(ROOT / "tools" / "verify.py", copy / "tools")

    keys = ["q_scan_parquet", "q_filter_pred", "q_groupby_agg"]
    run = subprocess.run(
        [sys.executable, "tools/verify.py", *keys, "--sf", SF_SMALL],
        cwd=copy,
        capture_output=True,
        text=True,
        timeout=600,
    )
    out = run.stdout.splitlines()
    assert run.returncode == 0, run.stdout + run.stderr[-2000:]
    assert f"package: {copy / 'googleanalytics_etl_spark'}" in out
    assert [line.split(":")[0] for line in out if line.endswith("rows)")] == keys
    assert out[-1] == "ALL MATCH"
