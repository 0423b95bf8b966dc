"""Steady-state benchmark of the crawl-and-extract engine.

    python3 perfbench/run.py --workload extract_bulk --seed 42 --seconds 10 --trace 0

One run builds a local Spark session with one core per CPU, generates the
workload's site from ``--seed`` (cached per seed under ``perfbench/.cache``),
runs the set-up and the workload's warm-up units, then times whole units
of work until ``--seconds`` of them, and at least the workload's minimum
number, have been measured. Every unit's output is checked.

Steady state is what gets timed: the first unit of a fresh process pays JIT
compilation, code generation and Python-worker start-up, which a production
crawl amortises over thousands of waves. That cost is not hidden: set-up
and the warm-up units make up ``setup_s``, and the record keeps every
warm-up unit's time.

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
measured with no tracing. With ``--trace 1`` the run has Spark's event log
on and profiles the kernel in-process after the timed units, and the last
line carries the per-layer metrics (see ``perfbench/README.md``). Lines
before it are the run record: the host probe, every unit's time and the
end-to-end metrics of this run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.time()

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

# the engine's imports are part of set-up: a change that makes them heavier
# shows in setup_s
import crawl4ai_custom_spark.operators.extraction  # noqa: E402,F401
import crawl4ai_custom_spark.operators.frontier  # noqa: E402,F401
from crawl4ai_custom_spark.session import get_spark  # noqa: E402
from crawl4ai_custom_spark.sources import datagen  # noqa: E402
from pyspark import SparkContext  # noqa: E402

import eventlog  # noqa: E402
import host  # noqa: E402
from bench import _cpu_sample, _steal_frac  # noqa: E402
import kprofile  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

N_PAGES, N_DOMAINS = 4000, 12

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "pages_per_s": "pages/s",
             "cpu_s": "s", "peak_rss_mb": "MB"}


def _source_hash(*paths: str) -> str:
    h = hashlib.md5()
    for path in paths:
        files = ([os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".py")]
                 if os.path.isdir(path) else [path])
        for f in sorted(files):
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:10]


def site_dir(seed: int) -> str:
    """The synthetic site for ``seed``, generated once and cached under a
    name that changes with the generator's source."""
    d = os.path.join(BENCH_DIR, ".cache",
                     f"site_{N_PAGES}_s{seed}_{_source_hash(datagen.__file__)}")
    if not os.path.exists(os.path.join(d, "robots.parquet")):
        tmp = f"{d}.tmp{os.getpid()}"
        datagen.write_dataset(tmp, n_pages=N_PAGES, n_domains=N_DOMAINS,
                              seed=seed, with_text=False)
        try:
            os.rename(tmp, d)
        except OSError:  # another run cached the same seed first
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def build_session(work_dir: str, event_dir: str | None):
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.driver.memory": "4g",
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, cpus), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stops Spark and waits for the JVM (and with it the Python workers)
    to exit, so the run leaves no process behind."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    host.reap_tree()


def run_unit(wl, spark, label: str) -> dict:
    cpu0, t0 = host.tree_cpu_s(), time.perf_counter()
    start_ms = time.time() * 1000
    with host.RssPeak() as rss:
        try:
            out, error = wl.unit(spark, label), None
        except Exception as exc:  # a failed unit is counted, not fatal
            out, error = None, f"{type(exc).__name__}: {exc}"
    wall = time.perf_counter() - t0
    unit = {"label": label, "wall_s": wall, "cpu_s": host.tree_cpu_s() - cpu0,
            "peak_rss_mb": rss.peak_mb, "start_ms": start_ms,
            "end_ms": time.time() * 1000, "out": out, "errors": []}
    if error is not None:
        unit["errors"].append(error)
    else:
        try:
            unit["errors"] += wl.check(spark, out, label)
        except Exception as exc:
            unit["errors"].append(f"check {type(exc).__name__}: {exc}")
        unit["pages_per_s"] = out["pages"] / wall
    return unit


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    # Spark's scratch space, the JVM's and the Python workers' temp files
    # all stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # the benchmark's own work: inputs and reference outputs, the kernel's
    # cached under a name that changes with the kernel's source
    t0 = time.time()
    wl = WORKLOADS[args.workload](site_dir(args.seed), args.seed, work)
    pkg = os.path.join(ROOT, "crawl4ai_custom_spark")
    wl.prepare(_source_hash(os.path.join(pkg, "kernel"),
                            os.path.join(pkg, "operators", "extraction.py")))
    own_s = time.time() - t0

    probe = {"spin_before_s": host.spin_probe_s()}
    stat0 = _cpu_sample()
    event_dir = None
    if args.trace:
        event_dir = os.path.join(work, "events")
        os.makedirs(event_dir)
    t_probe = time.time() - t0 - own_s

    spark = None
    try:
        t_sess = time.perf_counter()
        spark = build_session(work, event_dir)
        session_s = time.perf_counter() - t_sess
        wl.setup(spark)
        warmups = [run_unit(wl, spark, f"warmup:{i}")
                   for i in range(wl.warmup_units)]
        setup_s = time.time() - T_START - own_s - t_probe
        units = []
        while (len(units) < wl.min_units
               or sum(u["wall_s"] for u in units) < args.seconds):
            units.append(run_unit(wl, spark, f"unit:{len(units)}"))
        layers = {}
        if args.trace:
            layers.update(kprofile.profile(wl.sample, wl.kernel_fields))
    finally:
        if spark is not None:
            stop_session(spark)
    probe["steal_frac"] = _steal_frac(stat0, _cpu_sample())
    probe["spin_after_s"] = host.spin_probe_s()

    failed = [u for u in warmups + units if u["errors"]]
    ok = [u for u in units if not u["errors"]] or units
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(u["wall_s"] for u in ok),
        "pages_per_s": statistics.median(u.get("pages_per_s", 0.0) for u in ok),
        "cpu_s": statistics.median(u["cpu_s"] for u in ok),
        "peak_rss_mb": statistics.median(u["peak_rss_mb"] for u in ok),
    }
    if args.trace:
        layers["session.start_s"] = session_s
        layers["setup.warmup_first_unit_s"] = warmups[0]["wall_s"]
        layers["setup.warmup_last_unit_s"] = warmups[-1]["wall_s"]
        layers.update(wl.layers)
        layers.update(eventlog.layers(event_dir, wl, warmups, units))

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host_probe": probe, "own_setup_s": own_s,
        "warmup_units": [_brief(u) for u in warmups],
        "units": [_brief(u) for u in units],
        "end_to_end": e2e, "fail_frac": len(failed) / (len(warmups) + len(units)),
    }
    print("record " + json.dumps(record))
    for k, v in e2e.items():
        print(f"{args.workload} {k} {v:.4f} {E2E_UNITS[k]}")
    print(f"{args.workload} fail_frac {record['fail_frac']:.4f} ratio")
    if args.trace:
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in eventlog.LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not failed,
                      "attempted": len(warmups) + len(units),
                      "failed": len(failed), "metrics": metrics}))
    return 0 if not failed else 1


def _brief(u: dict) -> dict:
    out = {k: v for k, v in u.items() if k not in ("out", "start_ms", "end_ms")}
    if u["out"] is not None:
        out["out"] = {k: v for k, v in u["out"].items() if k != "run"}
    return out


if __name__ == "__main__":
    sys.exit(main())
