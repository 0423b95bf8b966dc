"""Per-layer metrics of a traced run, from Spark's own event log.

The traced session writes one uncompressed, non-rolling JSON-lines event
log. Every job the benchmark starts carries the job group
``perfbench:<label>`` of the unit it belongs to; jobs started on the
engine's snapshot-commit thread carry no group and are attributed to the
unit whose time window they were submitted in. Inside a unit, the engine's
own job descriptions name the crawl phase (``admit+fetch+extract``,
``link discovery``, ``snapshot commit``).

Each metric is computed per timed unit; the median over the units is
reported. Metrics of a layer the workload does not run read 0.
"""

from __future__ import annotations

import glob
import json
import statistics
from collections import defaultdict

MB = 1 << 20

LAYER_UNITS = {
    "session.start_s": "s",
    "setup.warmup_first_unit_s": "s",
    "setup.warmup_last_unit_s": "s",
    "sources.materialize_s": "s",
    "kernel.ms_per_page": "ms",
    "kernel.htmldom_s": "s",
    "kernel.scraper_s": "s",
    "kernel.markdown_s": "s",
    "kernel.content_filter_s": "s",
    "kernel.schemaprep_s": "s",
    "kernel.urlnorm_s": "s",
    "kernel.canonicalize_calls_per_page": "count",
    "extraction.python_run_s": "s",
    "extraction.python_start_s": "s",
    "extraction.python_init_s": "s",
    "extraction.data_sent_mb": "MB",
    "extraction.data_returned_mb": "MB",
    "extraction.executor_run_s": "s",
    "extraction.executor_cpu_s": "s",
    "extraction.gc_s": "s",
    "extraction.jvm_gap_s": "s",
    "extraction.tasks": "count",
    "extraction.task_skew": "ratio",
    "frontier.admission_s": "s",
    "frontier.fetch_extract_s": "s",
    "frontier.link_discovery_s": "s",
    "frontier.state_commit_s": "s",
    "frontier.run_setup_s": "s",
    "frontier.jobs": "count",
    "frontier.stages": "count",
    "frontier.tasks": "count",
    "frontier.fetch_extract.python_run_s": "s",
    "frontier.link_discovery.shuffle_mb": "MB",
    "frontier.waves": "count",
    "frontier.pages": "count",
    "frontier.new_links": "count",
    "state.commit_job_s": "s",
    "state.checkpoint_mb": "MB",
}

_PY_ACC = {  # task accumulable -> (field, scale to the reported unit)
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("data_sent_mb", 1 / MB),
    "data returned from Python workers": ("data_returned_mb", 1 / MB),
}


class EventLog:
    """Jobs, completed stages and per-stage task sums of one application."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    self.jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "desc": props.get("spark.job.description") or "",
                        "submit": e["Submission Time"],
                        "stage_ids": e["Stage IDs"], "end": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    self._task(e)

    def _task(self, e: dict) -> None:
        st = self.stages.setdefault(e["Stage ID"], {
            "tasks": 0, "run_ms": [], "python": False,
            **{f: 0.0 for f, _ in _PY_ACC.values()},
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
        })
        m = e.get("Task Metrics") or {}
        st["tasks"] += 1
        st["run_ms"].append(m.get("Executor Run Time", 0))
        st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
        for acc in e["Task Info"].get("Accumulables", ()):
            hit = _PY_ACC.get(acc.get("Name"))
            if hit is not None:
                st["python"] = True
                st[hit[0]] += float(acc.get("Update") or 0) * hit[1]

    def unit_jobs(self, unit: dict) -> list[dict]:
        group = f"perfbench:{unit['label']}"
        return [j for j in self.jobs.values()
                if j["group"] == group
                or (j["group"] is None
                    and unit["start_ms"] <= j["submit"] <= unit["end_ms"])]

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        ids = {s for j in jobs for s in j["stage_ids"]}
        return [self.stages[s] for s in sorted(ids) if s in self.stages]


def _extraction(stages: list[dict]) -> dict[str, float]:
    py = [s for s in stages if s["python"]]
    out = {f"extraction.{f}": sum(s[f] for s in py) for f, _ in _PY_ACC.values()}
    run_s = sum(sum(s["run_ms"]) for s in py) / 1e3
    out.update({
        "extraction.executor_run_s": run_s,
        "extraction.executor_cpu_s": sum(s["executor_cpu_s"] for s in py),
        "extraction.gc_s": sum(s["gc_s"] for s in py),
        "extraction.jvm_gap_s": run_s - out["extraction.python_run_s"],
        "extraction.tasks": sum(s["tasks"] for s in py),
    })
    if py:
        # the stage with the most task time decides the unit's wall time
        big = max(py, key=lambda s: sum(s["run_ms"]))
        med = statistics.median(big["run_ms"])
        out["extraction.task_skew"] = max(big["run_ms"]) / med if med else 0.0
    return out


def _frontier(log: EventLog, jobs: list[dict], unit: dict) -> dict[str, float]:
    def phase(word):
        return [j for j in jobs if word in j["desc"]]

    fetch, links, commit = (phase("admit+fetch+extract"),
                            phase("link discovery"), phase("snapshot commit"))
    stages = log.stages_of(jobs)
    out = _extraction(log.stages_of(fetch))
    run, t = unit["out"]["run"], defaultdict(float)
    for wave in run.stats:
        for k, v in wave.items():
            if k.startswith("t_"):
                t[k] += v
    out.update({
        "frontier.admission_s": t["t_frontier_agg"] + t["t_admission"],
        "frontier.fetch_extract_s": t["t_fetch_extract"],
        "frontier.link_discovery_s": t["t_link_discovery"],
        "frontier.state_commit_s": t["t_state_commit"],
        "frontier.run_setup_s": unit["wall_s"] - sum(t.values()),
        "frontier.jobs": len(jobs),
        "frontier.stages": len(stages),
        "frontier.tasks": sum(s["tasks"] for s in stages),
        "frontier.fetch_extract.python_run_s": out["extraction.python_run_s"],
        "frontier.link_discovery.shuffle_mb":
            sum(s["shuffle_write_mb"] for s in log.stages_of(links)),
        "frontier.waves": run.waves,
        "frontier.pages": run.pages_crawled,
        "frontier.new_links": unit["out"]["new_links"],
        "state.commit_job_s": sum((j["end"] - j["submit"]) / 1e3
                                  for j in commit if j["end"] is not None),
        "state.checkpoint_mb": unit["out"].get("checkpoint_mb", 0.0),
    })
    return out


def layers(event_dir: str, wl, warmups: list[dict],
           units: list[dict]) -> dict[str, float]:
    (path,) = glob.glob(f"{event_dir}/*")
    log = EventLog(path)
    per_unit = []
    for u in units:
        if u["out"] is None:
            continue
        jobs = log.unit_jobs(u)
        if wl.name == "crawl_bfs":
            per_unit.append(_frontier(log, jobs, u))
        else:
            per_unit.append(_extraction(log.stages_of(jobs)))
    out = {k: statistics.median(p.get(k, 0.0) for p in per_unit)
           for k in per_unit[0]} if per_unit else {}
    # workers start in the warm-up units; timed units reuse them
    out["extraction.python_start_s"] = sum(
        s["python_start_s"] for u in warmups
        for s in log.stages_of(log.unit_jobs(u)))
    return out
