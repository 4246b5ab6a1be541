"""Job-level benchmark for ``jobs/extract_job.py``.

    python3 perfbench/run.py --workload fresh_parquet --seed 1 --seconds 10 --trace 0

One closed-loop client calls ``extract_job.main(argv, spark=session)`` on
a warm session made by the same ``get_spark(app="extract_job",
cores=nproc)`` call ``main`` would make, one job at a time.  With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` it
makes the traced run (perfbench/layers.py) and reports the per-layer
metrics.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
``--workload all`` runs every workload, each in its own process.

See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

END_TO_END_UNITS = {
    "turns_per_s": "turns/s",
    "job_wall_s": "s",
    "setup_s": "s",
    "out_bytes_per_in_byte": "ratio",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0,
                   help="sum of timed job walls per run")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the smoke test uses a small one)")
    return p.parse_args(argv)


def percentile_note(walls: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(walls)
    if n < 11:
        return f"n={n}, no percentile has 10 samples beyond it"
    q = 100 * (n - 10) // n
    return f"n={n}, p{q}={statistics.quantiles(walls, n=100)[q - 1]:.4f} s"


def untraced(args, cores: int) -> tuple[dict, list[dict]]:
    """End-to-end metrics: a timed session start, warm-up jobs, then the
    timed closed loop."""
    extract_job = harness.load_job()
    wl = WORKLOADS[args.workload](harness.ROOT, args.seed, args.scale)
    argv = wl.argv(harness.strategy_args(extract_job), cores)
    spark, setup = harness.open_session(wl, cores)
    try:
        harness.warm_up(extract_job, spark, wl, argv)
        ticks = harness.cpu_ticks()
        runs = harness.timed_runs(extract_job, spark, wl, argv, args.seconds)
        steal = harness.steal_pct(ticks)
        jvm_mb, python_mb = harness.peak_rss_mb(harness.jvm_pid())
        out_bytes = wl.out_bytes()
    finally:
        harness.stop_session(spark)
        wl.reset()
    ok = [r for r in runs if not r["errors"]] or runs
    walls = [r["wall"] for r in ok]
    metrics = {
        "turns_per_s": statistics.median(wl.expected["turns_processed"] / w for w in walls),
        "job_wall_s": statistics.median(walls),
        "setup_s": setup,
        "out_bytes_per_in_byte": out_bytes / wl.expected["text_bytes"],
    }
    failed = sum(1 for r in runs if r["errors"])
    print(f"{args.workload}: {cores} cores, seed {args.seed}, "
          f"{wl.expected['turns_processed']} turns per job; "
          + ", ".join(f"{k}={v:.6g} {END_TO_END_UNITS[k]}" for k, v in metrics.items())
          + f"; failed_ratio={failed / len(runs):.6g} fraction ({failed}/{len(runs)})"
          + f"; peak_rss_mb={jvm_mb + python_mb:.6g} MB (JVM {jvm_mb:.0f}, Python {python_mb:.0f})"
          + f"; job_wall_s {percentile_note(walls)}: "
          + ", ".join(f"{w:.3f}" for w in walls)
          + f"; cpu steal during the timed loop {steal:.1f}%")
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}, runs


def run_all(args) -> dict:
    """Every workload in its own process; metrics keyed workload.metric."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        print(proc.stdout, end="")
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"perfbench: workload {name} exited {proc.returncode}")
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    return total


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        print(json.dumps(run_all(args)))
        return 0
    harness.load_job()
    harness.init_environment()
    cores = len(os.sched_getaffinity(0))
    if args.trace:
        from perfbench import layers
        metrics, runs = layers.traced_run(args, cores)
    else:
        metrics, runs = untraced(args, cores)
    failed = sum(1 for r in runs if r["errors"])
    print(json.dumps({"correct": failed == 0, "attempted": len(runs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
