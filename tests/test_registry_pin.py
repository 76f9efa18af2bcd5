"""Registry pin: the driver-visible surface does not move under refactors.

``queries()`` order decides which keys fall inside the grading driver's
first-50 window, and each ``oracle_sql()`` string is the certified
cross-engine contract for its key. A module move, a dead-list deletion
or a shared-helper refactor must leave both byte-for-byte unchanged.
``registry_pin.json`` holds the ordered key list and a sha256 per oracle
string (``null`` for rows-only keys).

An intended change (a new key, a rewritten oracle, a new rotation) is
re-pinned with ``python tests/test_registry_pin.py`` and reviewed as a
diff of that file. The order itself is computed from the evidence ledger
(registry.py docstring), never from registration order.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from googleanalytics_etl_spark.ledger import gather  # noqa: E402
from googleanalytics_etl_spark.registry import (  # noqa: E402
    _REWRITTEN,
    driver_order,
    oracle_sql,
    queries,
)

PIN = Path(__file__).with_name("registry_pin.json")


def current() -> list[list]:
    oracles = oracle_sql()
    return [
        [
            k,
            hashlib.sha256(oracles[k].encode()).hexdigest()
            if k in oracles
            else None,
        ]
        for k in queries()
    ]


def test_driver_order_and_oracles_pinned():
    pinned = json.loads(PIN.read_text())
    now = current()
    assert [k for k, _ in now] == [k for k, _ in pinned], (
        "queries() order moved; re-pin only if the move is intended"
    )
    moved = [k for (k, h), (_, p) in zip(now, pinned) if h != p]
    assert not moved, f"oracle_sql() changed for {moved}"


def test_driver_order_is_a_function_of_the_ledger():
    """Registration order cannot move the window: the registered keys fed
    in any order come back in ``queries()`` order; with no ledger they
    come back as the rewritten keys, then the rest, each by name."""
    keys = list(queries())
    shuffled = random.Random(11).sample(keys, len(keys))
    assert driver_order(shuffled, gather()[0]) == keys
    head = sorted(k for k in keys if k in _REWRITTEN)
    assert driver_order(shuffled, {}) == head + sorted(set(keys) - set(head))


if __name__ == "__main__":
    rows = ",\n".join(json.dumps(row) for row in current())
    PIN.write_text(f"[\n{rows}\n]\n")
    print(f"pinned {PIN}")
