"""Run workloads untraced and traced from one seed and print the figures.

    python3 perfbench/report.py --seed 1 [--seconds 10] [WORKLOAD ...]

Default workloads: etl_sync, analytics_queries and curation. Each runs
twice through ``perfbench/run.py`` — with ``--trace 0`` for the end-to-end
metrics and with ``--trace 1`` for the per-layer metrics — and the report
prints both, every operation's check outcome, and the tracing overhead:
traced minus untraced median operation latency. Spans and per-layer
summaries stay under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
DEFAULT = ("etl_sync", "analytics_queries", "curation")


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, list[str]]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True, check=False)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} --trace {trace} exited with {p.returncode}")
    return json.loads(lines[-1]), lines[:-1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("workloads", nargs="*", default=list(DEFAULT))
    args = ap.parse_args()
    for wl in args.workloads:
        plain, lines = run(wl, args.seed, args.seconds, 0)
        traced, _ = run(wl, args.seed, args.seconds, 1)
        print(f"== {wl} (seed {args.seed}): correct {plain['correct']}, "
              f"{plain['failed']} of {plain['attempted']} operations and checks failed")
        for line in lines:
            if not line.startswith("perfbench: op "):
                print("  " + line.removeprefix("perfbench: "))
        for name, m in traced["metrics"].items():
            print(f"  layer {name} = {m['value']:.6g} {m['unit']}")
        base = plain["metrics"]["latency_p50_s"]["value"]
        over = traced["metrics"]["trace.latency_p50_s"]["value"] - base
        print(f"  tracing overhead = {over:.4f} s on the median operation "
              f"({100 * over / base:.1f} % of {base:.4f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
