"""Render the per-key driver-evidence ledger from CORRECTNESS_r*.json.

Writes LEDGER.md: one row per registered key with the last official
round whose driver window hash-certified it (or rows-only / never),
in ``queries()`` order, which the registry computes from the same
ledger (``googleanalytics_etl_spark.ledger.gather``).

Usage: python tools/rotation_ledger.py   # rewrites LEDGER.md in repo root
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    from googleanalytics_etl_spark.ledger import gather
    from googleanalytics_etl_spark.registry import REGISTRY, queries

    order = list(queries())  # driver order: current window first
    latest, rounds = gather()
    lines = [
        "# LEDGER — per-key driver evidence (generated)",
        "",
        f"Generated by tools/rotation_ledger.py from "
        f"CORRECTNESS_r{{{min(rounds):02d}..{max(rounds):02d}}}.json. "
        "`last` = newest official driver round that checked the key; "
        "`status` = hash (rows+schema+value-hash certified), rows "
        "(rows-only by design — no cross-engine oracle exists), fail "
        "(mismatch/error in that round), or never (no driver contact "
        "yet). `pos` = current `queries()` position (driver grades the "
        "first 50 each round).",
        "",
        "| pos | key | last | status |",
        "| --- | --- | --- | --- |",
    ]
    n_hash = n_rows = n_fail = n_never = 0
    for i, key in enumerate(order):
        rec = latest.get(key)
        if rec is None:
            last, status = "—", "never"
            n_never += 1
        else:
            last, status = f"r{rec[0]}", rec[1]
            if rec[1] == "hash":
                n_hash += 1
            elif rec[1] == "rows":
                n_rows += 1
            else:
                n_fail += 1
        oracle = "yes" if REGISTRY[key].oracle is not None else "rows-only"
        if status == "rows" and oracle == "yes":
            status = "rows (oracle added since)"
        lines.append(f"| {i + 1} | {key} | {last} | {status} |")
    lines.insert(
        4,
        f"**Totals: {len(order)} keys — {n_hash} hash-certified, "
        f"{n_rows} rows-only, {n_fail} failing-as-of-last-contact, "
        f"{n_never} never driver-checked.**",
    )
    lines.insert(5, "")
    (ROOT / "LEDGER.md").write_text("\n".join(lines) + "\n")
    print(
        f"LEDGER.md: {len(order)} keys | hash={n_hash} rows={n_rows} "
        f"fail={n_fail} never={n_never}"
    )


if __name__ == "__main__":
    main()
