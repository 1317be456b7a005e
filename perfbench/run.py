"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the root of a checkout. Starts one fresh Spark JVM (``local[nproc]``)
for the run, generates the workload's inputs from ``--seed`` under
``.perfbench_work/`` in the checkout, measures for ``--seconds`` and prints
one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics. A layer the
workload does not exercise reads 0. ``--smoke`` shrinks every input so the
benchmark's own test runs in seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_s_p50": "s",
    "peak_rss_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p99/p95/p90/p75/p50 that has at
    least ten samples beyond it; p50 when there are fewer than 20."""
    n = len(samples)
    pct = next((p for p in (99, 95, 90, 75) if n * (100 - p) / 100 >= 10), 50)
    return pct, percentile(samples, pct)


def percentile(samples: list[float], pct: float) -> float:
    xs = sorted(samples)
    k = (len(xs) - 1) * pct / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _median(xs: list[float]) -> float:
    """Median; 0 when nothing completed (the run then reports failures)."""
    return statistics.median(xs) if xs else 0.0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of the Spark JVM and its Python
    workers: every live descendant of this process."""
    kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


DRIVER_MEM = "2g"


def _prepare_env(work: Path) -> None:
    cpus = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # below host RAM (the engine's 16g default is more than small hosts have)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    args = ap.parse_args(argv)

    if not (ROOT / "omicidx_gh_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no omicidx_gh_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    per_layer = _per_layer_units() if args.trace else {}

    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)  # every run starts from a clean state
    _prepare_env(work)

    from omicidx_gh_etl_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: peak RSS then tracks what the run touches,
        # not when G1 chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'}",
    })
    spark_s = time.perf_counter() - t
    try:
        ctx = workloads.Ctx(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            sizes=workloads.SMOKE if args.smoke else workloads.FULL, spark_s=spark_s,
        )
        wl = workloads.WORKLOADS[args.workload](ctx)
        out = workloads.run(ctx, wl)
        rss = peak_rss_mb()
    finally:
        _stop(spark)
    shutil.rmtree(work, ignore_errors=True)

    for e in out.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    if args.trace:
        pct, tail_s = tail(out.op_s) if out.op_s else (0, 0.0)
        layers = dict(out.layers)
        layers.update({
            "session.get_spark_s": spark_s,
            "trace.overhead_share": _median(out.traced_pass_s) / max(1e-9, _median(out.pass_s)) - 1,
            "op.samples": len(out.op_s),
            "op.tail_pct": pct,
            "op.tail_s": tail_s,
        })
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in per_layer.items()}
        extra = sorted(set(layers) - set(per_layer))
        if extra:
            print(f"perfbench: layer figures not in BENCHMARK.json: {extra}", file=sys.stderr)
    else:
        values = {
            "setup_s": out.setup_s,
            "pass_s": _median(out.pass_s),
            "op_s_p50": _median(out.op_s),
            "peak_rss_mb": rss,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
