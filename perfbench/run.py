"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench_work/`` (inside the checkout, the only place
a run writes), sets up Spark (``local[4]``) three times and reports the
median set-up, then drives one closed-loop client through whole passes of
the workload's operations until ``--seconds`` have elapsed, checks the
outputs against DuckDB, and removes its inputs.

The deadline is checked between passes, so a run measures at least one
whole pass. On a 4-core host one pass of either benchmarked workload took
14 s or more, so at ``--seconds 10`` a run was one pass. Every pass starts
with the engine's stage caches for the run's inputs cleared, so every pass
is cold.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run also
writes its spans and a per-layer summary under ``.perfbench_out/``.
Lines before it, prefixed ``perfbench:``, name every figure with its unit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = 4
DRIVER_MEM = "2g"
SETUP_CYCLES = 3


def say(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: Path) -> None:
    """Fixed cores and driver memory; the repo root on every Python
    worker's path; Spark scratch and JVM temp files inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        # every JVM (launcher and driver): temp files in the work dir and no
        # hsperfdata file, which would otherwise go to the system /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [str(ROOT), str(HERE)]


def clear_stage_caches(dirs) -> None:
    """Remove the engine's content-keyed stage caches (``.scratch/*_stage``)
    built from this run's input directories."""
    scratch = ROOT / ".scratch"
    if not scratch.is_dir():
        return
    for stage in scratch.glob("*_stage"):
        for d in dirs:
            for hit in stage.glob(f"{d.name}_*"):
                shutil.rmtree(hit, ignore_errors=True)


def proc_stat() -> tuple[int, int, int]:
    """(total, idle incl. iowait, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[3] + v[4], v[7]


def host_share(a, b) -> tuple[float, float]:
    total = max(b[0] - a[0], 1)
    busy = total - (b[1] - a[1]) - (b[2] - a[2])
    return 100.0 * busy / total, 100.0 * (b[2] - a[2]) / total


def vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tail_percentile(values: list[float]) -> tuple[float | None, float | None]:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return None, None
    pct = int(100 * (n - 10) / n)
    return pct, statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "googleanalytics_etl_spark" / "__init__.py").is_file():
        print("perfbench: engine package googleanalytics_etl_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    pin_environment(work)

    import workloads  # after sys.path is pinned

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    try:
        return run(args, wl, work)
    finally:
        stop_spark()
        clear_stage_caches(wl.input_dirs())
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it


def stop_spark() -> None:
    """Stop Spark, then close the JVM's stdin and wait for it to exit (its
    Python workers exit with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def run(args, wl, work: Path) -> int:
    import googleanalytics_etl_spark as engine

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()

    t0 = time.perf_counter()
    wl.prepare()
    clear_stage_caches(wl.input_dirs())
    say(f"inputs for {wl.name} seed {args.seed} in {time.perf_counter() - t0:.2f} s: "
        f"{json.dumps(wl.props)}")

    # -- set-up: session + warm-up, several times, median reported -----
    setup, spark = [], None
    for cycle in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = engine.session.get_spark(f"perfbench-{wl.name}", cpus=CPUS)
        wl.warmup(spark, cycle, tracer)
        setup.append(time.perf_counter() - t)
    sc = spark.sparkContext
    if tracer:
        tracer.listen(spark)
    say(f"spark {spark.version}, java {sc._jvm.System.getProperty('java.version')}, "
        f"python {platform.python_version()}, local[{CPUS}], driver memory {DRIVER_MEM}")

    # -- measured window: whole passes, closed loop ---------------------
    results = []
    host0, w0 = proc_stat(), time.perf_counter()
    for ops in wl.passes():
        clear_stage_caches(wl.input_dirs())
        for op in ops:
            ctx = tracer.operation(op.name) if tracer else None
            try:
                if ctx:
                    with ctx:
                        res = wl.run_op(spark, op, tracer)
                else:
                    res = wl.run_op(spark, op, tracer)
            except Exception as e:  # keep measuring; the op counts as failed
                traceback.print_exc(file=sys.stderr)
                res = workloads.OpResult(op, 0.0, 0, error=f"{type(e).__name__}: {e}")
            results.append(res)
        if time.perf_counter() - w0 >= args.seconds:
            break
    wall = time.perf_counter() - w0
    busy_pct, steal_pct = host_share(host0, proc_stat())

    # -- correctness, outside the window --------------------------------
    try:
        checks = wl.verify(spark, results)
    except Exception as e:
        traceback.print_exc(file=sys.stderr)
        checks = [workloads.Check("verify", False, f"{type(e).__name__}: {e}")]
    for c in checks:
        if not c.ok:
            say(f"check failed: {c.name}: {c.detail}")
    for r in results:
        if r.error:
            say(f"operation failed: {r.op.name}: {r.error}")

    rss_mb = vm_hwm_mb(sc._gateway.proc.pid) + vm_hwm_mb("self")
    extra = {}
    if args.workload == "etl_sync":
        extra["target_bytes_per_row"] = (wl.target_bytes_per_row(), "B")
    per_layer = {}
    if tracer:
        import layers

        tracer.harvest(sc)
        per_layer, detail = layers.summarize(tracer, results, CPUS)
        per_layer["session.get_spark_s"] = (statistics.median(
            s.end - s.start for s in tracer.spans if s.layer == "session"), "s")
        per_layer["host.busy_pct"] = (busy_pct, "%")
        per_layer["host.steal_pct"] = (steal_pct, "%")
        per_layer["peak_rss_mb"] = (rss_mb, "MB")
        out = ROOT / ".perfbench_out" / f"{wl.name}-seed{args.seed}"
        tracer.write(Path(f"{out}-spans.jsonl"))
        Path(f"{out}-layers.json").write_text(json.dumps(
            {k: {"value": v, "unit": u} for k, (v, u) in {**per_layer, **detail}.items()},
            indent=1))
    stop_spark()

    ok = [r for r in results if r.error is None]
    lat = [r.seconds for r in ok]
    failed = (len(results) - len(ok)) + sum(not c.ok for c in checks)
    attempted = len(results) + len(checks)
    e2e = {
        "setup_s": (statistics.median(setup), "s"),
        "latency_p50_s": (statistics.median(lat) if lat else float("nan"), "s"),
        "throughput_per_s": (sum(r.units for r in ok) / wall, "1/s"),
    }
    pct, tail = tail_percentile(lat)
    say(f"{wl.name}: {len(results)} operations in {wall:.2f} s, "
        f"{len(checks)} checks, failed_frac {failed / attempted:.4f}")
    say(f"setup cycles (s): {', '.join(f'{s:.3f}' for s in setup)}")
    extra["peak_rss_mb"] = (rss_mb, "MB")
    for name, (v, unit) in {**e2e, **extra}.items():
        say(f"{name} = {v:.6g} {unit}")
    say(f"latency tail: " + (f"p{pct} = {tail:.6g} s over {len(lat)} samples"
                             if pct else f"n/a ({len(lat)} samples, needs 11)"))
    for line in named_metrics(wl, results, wall):
        say(line)
    # control values, not end-to-end metrics: they mark a run taken in a
    # slow host phase (high steal, or a latency/set-up ratio off its usual)
    say(f"host control: busy {busy_pct:.1f} %, steal {steal_pct:.2f} %, "
        f"latency_p50_s / setup_s = {e2e['latency_p50_s'][0] / e2e['setup_s'][0]:.4f}")
    for name, (v, unit) in per_layer.items():
        say(f"layer {name} = {v:.6g} {unit}")
    metrics = e2e if not args.trace else per_layer
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def named_metrics(wl, results, wall) -> list[str]:
    """The workload's figures under the names the workload defines."""
    ok = [r for r in results if r.error is None]
    lat = sorted(r.seconds for r in ok)
    med = statistics.median(lat) if lat else float("nan")
    lines = []
    if wl.name == "etl_sync":
        lines.append(f"sync_latency_p50_s = {med:.6g} s")
        lines.append(f"sync_rows_per_s = {sum(r.units for r in ok) / wall:.6g} 1/s")
    elif wl.name == "analytics_queries":
        lines.append(f"query_latency_p50_s = {med:.6g} s")
    else:
        for kind, name in (("batch", "curation_batch_docs_per_s"),
                           ("stream", "curation_stream_docs_per_s")):
            rs = [r for r in ok if r.op.kind == kind]
            if rs:
                rate = sum(r.units for r in rs) / sum(r.seconds for r in rs)
                lines.append(f"{name} = {rate:.6g} 1/s")
    for r in ok:
        lines.append(f"op {r.op.name} {r.seconds:.4f} s")
    return lines


if __name__ == "__main__":
    sys.exit(main())
