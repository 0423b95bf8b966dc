"""In-process profile of the extraction kernel over a fixed page sample.

The kernel runs through ``make_extract_fn`` exactly as the Python workers
run it, but in the driver process, so its cost is seen apart from the
Python-worker boundary and the JVM. ``kernel.ms_per_page`` is timed with
the profiler off; the per-module self times come from a second, profiled
pass, so they carry cProfile's per-call cost and are for comparing
modules and versions, not for adding up to ``ms_per_page``.
"""

from __future__ import annotations

import cProfile
import os
import pstats
import time

KERNEL_MODULES = ("htmldom", "scraper", "markdown", "content_filter",
                  "schemaprep", "urlnorm")


def profile(sample, fields) -> dict[str, float]:
    from workloads import kernel_rows

    kernel_rows(sample[:8], fields)  # imports and first-call caches
    t0 = time.perf_counter()
    kernel_rows(sample, fields)
    out = {"kernel.ms_per_page": (time.perf_counter() - t0) * 1000 / len(sample)}

    prof = cProfile.Profile()
    prof.runcall(kernel_rows, sample, fields)
    stats = pstats.Stats(prof).stats
    self_s = dict.fromkeys(KERNEL_MODULES, 0.0)
    canon_calls = 0
    for (path, _, func), (_, ncalls, tottime, _, _) in stats.items():
        parent, mod = os.path.split(path)
        mod = mod.removesuffix(".py")
        if os.path.basename(parent) != "kernel" or mod not in self_s:
            continue
        self_s[mod] += tottime
        if mod == "urlnorm" and func == "canonicalize_url":
            canon_calls += ncalls
    out.update({f"kernel.{m}_s": v for m, v in self_s.items()})
    out["kernel.canonicalize_calls_per_page"] = canon_calls / len(sample)
    return out
