"""Every workload, untraced and traced, in one report.

    python3 perfbench/report.py --seed 42

For each workload this runs ``run.py`` twice with the same seed: once with
tracing off, for the end-to-end metrics and ``fail_frac``, and once with
tracing on, for the per-layer metrics. The tracing overhead of each
end-to-end metric is the traced run's value minus the untraced run's.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

from eventlog import LAYER_UNITS  # noqa: E402
from run import E2E_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(BENCH_DIR))
    lines = p.stdout.strip().splitlines()
    records = [json.loads(ln[len("record "):]) for ln in lines
               if ln.startswith("record ")]
    if not records:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: no run record (exit {p.returncode})")
    return records[0], json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    failed = False
    for wl in sorted(WORKLOADS):
        plain, _ = one_run(wl, args.seed, seconds, 0)
        traced, result = one_run(wl, args.seed, seconds, 1)
        print(f"== {wl} (seed {args.seed})")
        print(f"  {'metric':36s} {'untraced':>12s} {'traced':>12s} {'overhead':>10s}")
        for k, unit in E2E_UNITS.items():
            a, b = plain["end_to_end"][k], traced["end_to_end"][k]
            print(f"  {k:36s} {a:12.4f} {b:12.4f} {(b - a) / a:+10.1%}  {unit}")
        print(f"  {'fail_frac':36s} {plain['fail_frac']:12.4f} "
              f"{traced['fail_frac']:12.4f} {'':>10s}  ratio")
        print(f"  host probe: untraced {plain['host_probe']}, "
              f"traced {traced['host_probe']}")
        for k, unit in LAYER_UNITS.items():
            print(f"  {k:36s} {result['metrics'][k]['value']:12.4f}  {unit}")
        failed = failed or bool(plain["fail_frac"] or traced["fail_frac"])
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
