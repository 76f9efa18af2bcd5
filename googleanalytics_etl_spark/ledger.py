"""The driver-evidence ledger: ``CORRECTNESS_rNN.json`` at the checkout
root holds official round NN's result for each key in its window."""

from __future__ import annotations

import json
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def gather() -> tuple[dict[str, tuple[int, str]], list[int]]:
    """Map key -> (round, status) for the LATEST round that checked it,
    and list the rounds read.

    status: 'hash' (rows+schema+hash all true), 'rows' (rows true but
    no hash — the rows-only protocol), 'fail' (driver ran it and
    something mismatched or errored).
    """
    latest: dict[str, tuple[int, str]] = {}
    rounds = []
    for f in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", f.name)
        if not m:
            continue
        rnd = int(m.group(1))
        rounds.append(rnd)
        try:
            data = json.loads(f.read_text())
        except json.JSONDecodeError:
            continue
        for key, res in data.items():
            if not isinstance(res, dict):
                continue
            if res.get("hash_match"):
                status = "hash"
            elif res.get("err") == "no_oracle" and res.get("spark_rows"):
                # rows-only protocol: no cross-engine oracle exists; the
                # driver records spark_rows and null matches
                status = "rows"
            else:
                status = "fail"
            prev = latest.get(key)
            # prefer the newest round; within a round prefer pass info
            if prev is None or rnd >= prev[0]:
                latest[key] = (rnd, status)
    return latest, rounds
