"""The benchmark's workloads: each one is a set-up step, a unit of work
that calls the engine's public functions from outside, and a check of
every unit's output.

A workload object lives for one run. ``prepare`` is the benchmark's own
work: the reference outputs, worked out without Spark (pyarrow, the kernel
run in-process, plain Python), outside ``setup_s``. ``setup`` is engine
work that counts into ``setup_s``; ``unit`` is one timed unit and returns
a summary that ``check`` compares against the reference.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import re
import time
import uuid
from concurrent.futures import ProcessPoolExecutor
from urllib.parse import urlsplit

import pyarrow.parquet as pq

# the frontier field set of bench.py's crawl_extract
FRONTIER_FIELDS = ("url", "success", "title", "text", "raw_markdown",
                   "fit_markdown", "links", "images", "tables", "metadata")
# pages whose extraction digest is checked on every extract_bulk unit
SAMPLE_PAGES = 160
# outputs at seed 42 when this benchmark was defined: a check of the
# reference itself
PINNED_SEED = 42
EXTRACT_PINNED = {"pages": 4006, "edges": 52_357}
CRAWL_PINNED = {"admitted": [6, 85], "new_links": 86}
# two waves: every phase of the wave loop runs, with a non-empty seen set in
# the second; a cold crawl costs ~35 s, so deeper crawls do not fit the
# benchmark's run budget
CRAWL_DEPTH = 1

# the engine's url predicates, restated: url_is_valid, and the extensions
# the default allowed_content_types (text/html, text/plain) admit
_VALID = re.compile(r"^https?://[^/?#]*\.[^/?#]+")
_EXT = re.compile(r"\.([A-Za-z0-9]{1,5})(?:[?#]|$)")
_HTML_EXTS = {"html", "htm", "xhtml", "php", "asp", "aspx", "jsp",
              "txt", "text", "md", "rst"}

_LINK_KEYS = ("href", "text", "title", "base_domain", "is_internal")
_US, _RS, _GS = "\x1f", "\x1e", "\x1d"


def _links_str(links) -> str:
    parts = []
    for link in links if links is not None else ():
        vals = []
        for k in _LINK_KEYS:
            v = link[k]
            if isinstance(v, bool):
                v = "true" if v else "false"
            vals.append("" if v is None else str(v))
        parts.append(_GS.join(vals))
    return _RS.join(parts)


def page_hash(url: str, raw_md, fit_md, links) -> int:
    """48-bit hash of one page's raw_markdown, fit_markdown and links; the
    digest of a table is the sum over its rows, so it ignores row order."""
    s = _US.join((url, raw_md or "", fit_md or "", _links_str(links)))
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def page_hash_col():
    """``page_hash`` as a Spark column expression over the extraction
    output, so the digest is computed where the rows are."""
    from pyspark.sql import functions as F

    def part(c):
        return F.coalesce(c.cast("string"), F.lit(""))

    links = F.coalesce(F.array_join(F.transform(
        "links", lambda l: F.concat_ws(_GS, *[part(l[k]) for k in _LINK_KEYS])
    ), _RS), F.lit(""))
    s = F.concat_ws(_US, F.col("url"), part(F.col("raw_markdown")),
                    part(F.col("fit_markdown")), links)
    return F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")


def latest_pages(site_dir: str) -> list[tuple[str, bytes]]:
    """(url, html) of every url's latest capture, sorted by url, read with
    pyarrow so the expected outputs do not come from Spark."""
    t = pq.read_table(os.path.join(site_dir, "pages.parquet"),
                      columns=["url", "warc_ts", "html"])
    t = t.sort_by([("url", "ascending"), ("warc_ts", "descending")])
    urls, html = t.column("url").to_pylist(), t.column("html")
    return [(u, html[i].as_py()) for i, u in enumerate(urls)
            if i == 0 or urls[i - 1] != u]


def even_sample(pages: list, n: int) -> list:
    return pages[::max(1, len(pages) // n)][:n]


def kernel_rows(sample, fields):
    """Runs the mapInPandas function of the extraction operator in-process
    over ``sample`` and returns its output rows."""
    import pandas as pd

    from crawl4ai_custom_spark.operators.extraction import make_extract_fn

    pdf = pd.DataFrame({"url": [u for u, _ in sample],
                        "html": [h for _, h in sample]})
    fn = make_extract_fn(None, fields)
    return pd.concat(list(fn(iter([pdf])))).to_dict("records")


def _extract_summary(args) -> tuple[int, int, int]:
    pages, sample_urls = args
    edges = linked = digest = 0
    for r in kernel_rows(pages, FRONTIER_FIELDS):
        n = 0 if r["links"] is None else len(r["links"])
        edges, linked = edges + n, linked + (n > 0)
        if r["url"] in sample_urls:
            digest += page_hash(r["url"], r["raw_markdown"],
                                r["fit_markdown"], r["links"])
    return edges, linked, digest


def extract_reference(pages, sample_urls: set[str], cache_path: str) -> dict:
    """What one extract_bulk pass must produce, from the kernel run
    in-process over every page (one process per CPU) and cached next to
    the site: edges of links_table, pages with at least one link, and the
    digest of the sample pages."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    n = len(os.sched_getaffinity(0))
    with ProcessPoolExecutor(n, mp_context=mp.get_context("fork")) as ex:
        parts = list(ex.map(_extract_summary,
                            [(pages[i::n], sample_urls) for i in range(n)]))
    ref = {"pages": len(pages),
           **{k: sum(p[i] for p in parts)
              for i, k in enumerate(("edges", "linked_pages", "sample_digest"))}}
    with open(f"{cache_path}.tmp{os.getpid()}", "w") as f:
        json.dump(ref, f)
    os.replace(f"{cache_path}.tmp{os.getpid()}", cache_path)
    return ref


def _disallowed(rules: str | None):
    """The Disallow patterns of a robots.txt (the synthetic sites use only
    ``User-agent: *`` groups) as one regex over the url's path."""
    pats = [ln.split(":", 1)[1].strip() for ln in (rules or "").splitlines()
            if ln.lower().startswith("disallow:")]
    alts = [re.escape(p.removesuffix("$")).replace(r"\*", ".*")
            + ("$" if p.endswith("$") else "") for p in pats if p]
    return re.compile("|".join(alts)) if alts else None


def crawl_reference(site_dir: str, pages: list[tuple[str, bytes]]) -> dict:
    """Per-wave admitted counts and the new-link count of a depth-1 BFS
    crawl with robots on and politeness that never binds, worked out in
    plain Python: the seeds are wave 0, minus robots-disallowed ones; the
    internal, valid, html-typed links of the fetched seed pages, minus the
    seeds, are the new links; those robots allows are wave 1."""
    from crawl4ai_custom_spark.kernel.urlnorm import canonicalize_url

    robots = pq.read_table(os.path.join(site_dir, "robots.parquet"))
    deny = {d.lower(): _disallowed(r) for d, r in zip(
        robots.column("domain").to_pylist(), robots.column("rules").to_pylist())}

    def allowed(url: str) -> bool:
        parts = urlsplit(url)
        rx = deny.get((parts.hostname or "").lower())
        return rx is None or not rx.match(parts.path or "/")

    def crawlable(url: str) -> bool:
        ext = _EXT.search(url)
        return bool(_VALID.match(url)) and (
            ext is None or ext.group(1).lower() in _HTML_EXTS)

    seeds = pq.read_table(os.path.join(site_dir, "seeds.parquet"))
    seen = dict.fromkeys(
        c for c in (canonicalize_url(u) for u in seeds.column("url").to_pylist()
                    if u and _VALID.match(u)) if c)
    wave0 = [u for u in seen if allowed(u)]
    html = dict(pages)
    rows = kernel_rows([(u, html[u]) for u in wave0 if u in html], None)
    links = [ln for r in rows if r["links"] is not None for ln in r["links"]]
    new = {ln["href"] for ln in links
           if ln["is_internal"] and crawlable(ln["href"])} - set(seen)
    return {"admitted": [len(wave0), sum(map(allowed, new))],
            "new_links": len(new)}


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total / (1 << 20)


def _job(spark, label: str, desc: str):
    # the group survives the engine's own setJobDescription calls, so every
    # job of a unit can be attributed to it in the event log
    spark.sparkContext.setJobGroup(f"perfbench:{label}", desc)


class ExtractBulk:
    """extract_pages over the materialised latest-capture table, then
    links_table; one unit is one full-table pass. The warm-up unit runs the
    same plan over the sample pages only: it starts the Python workers and
    compiles the plan, the bulk of the cold cost, at a fraction of a pass."""

    name = "extract_bulk"
    kernel_fields = FRONTIER_FIELDS
    # host speed drifts by ±15% between consecutive passes, so the run
    # reports the median of at least three
    warmup_units, min_units = 1, 3

    def __init__(self, site_dir: str, seed: int, work_dir: str):
        self.site_dir, self.seed, self.work_dir = site_dir, seed, work_dir
        self.layers: dict[str, float] = {}

    def prepare(self, ref_key: str) -> None:
        pages = latest_pages(self.site_dir)
        self.sample = even_sample(pages, SAMPLE_PAGES)
        self.sample_urls = [u for u, _ in self.sample]
        self.ref = extract_reference(
            pages, set(self.sample_urls),
            os.path.join(self.site_dir, f"extract_ref_{ref_key}.json"))
        self.ref_warmup = {"pages": len(self.sample),
                           "sample_digest": self.ref["sample_digest"]}

    def setup(self, spark) -> None:
        from crawl4ai_custom_spark.sources.pages import load_latest_pages

        latest = os.path.join(self.work_dir, "latest")
        t0 = time.perf_counter()
        _job(spark, "setup", "materialise latest-capture pages")
        load_latest_pages(spark, self.site_dir).write.mode("overwrite").parquet(latest)
        self.layers["sources.materialize_s"] = time.perf_counter() - t0
        self.pages = spark.read.parquet(latest)

    def unit(self, spark, label: str) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from crawl4ai_custom_spark.operators.extraction import extract_pages, links_table

        _job(spark, label, "extract_pages + links_table")
        pages = self.pages.select("url", "html")
        if label.startswith("warmup"):
            pages = pages.where(F.col("url").isin(self.sample_urls))
        obs = Observation(f"ext_{uuid.uuid4().hex[:8]}")
        # CASE WHEN hashes only the sample rows, so the digest adds next
        # to nothing to the timed pass
        ext = extract_pages(pages, fields=FRONTIER_FIELDS).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("url").isin(self.sample_urls), page_hash_col())
                  .otherwise(F.lit(0))).alias("sample_digest"),
        )
        agg = links_table(ext).groupBy().agg(
            F.countDistinct("page_url").alias("linked_pages"),
            F.count(F.lit(1)).alias("edges"),
        ).collect()[0]
        m = obs.get
        return {"pages": int(m["rows"]), "edges": int(agg["edges"]),
                "linked_pages": int(agg["linked_pages"]),
                "sample_digest": int(m["sample_digest"] or 0)}

    def check(self, spark, out: dict, label: str) -> list[str]:
        warm = label.startswith("warmup")
        ref = self.ref_warmup if warm else self.ref
        err = [f"{k} {out[k]} != {v} from the in-process kernel"
               for k, v in ref.items() if out[k] != v]
        if self.seed == PINNED_SEED and not warm:
            err += [f"{k} {out[k]} != pinned {v}"
                    for k, v in EXTRACT_PINNED.items() if out[k] != v]
        return err


class CrawlBfs:
    """FrontierEngine.run: BFS from the site's seeds with robots and the
    bloom prefilter on and politeness that never binds; one unit is one
    complete crawl from the seeds to the final snapshot."""

    name = "crawl_bfs"
    kernel_fields = None  # the crawl extracts the full ExtractConfig surface
    # the JVM is still compiling through the second crawl of a process
    # (10-30% slower and 20-40% more CPU than the third), so two crawls
    # warm up and the third, steady one is timed; four crawls in a run
    # would not fit the benchmark's time budget
    warmup_units, min_units = 2, 1

    def __init__(self, site_dir: str, seed: int, work_dir: str):
        self.site_dir, self.seed, self.work_dir = site_dir, seed, work_dir
        self.layers: dict[str, float] = {}
        self.log_digest: str | None = None

    def prepare(self, ref_key: str) -> None:
        pages = latest_pages(self.site_dir)
        self.sample = even_sample(pages, SAMPLE_PAGES)
        self.ref = crawl_reference(self.site_dir, pages)
        self.seeds = pq.read_table(
            os.path.join(self.site_dir, "seeds.parquet")).column("url").to_pylist()

    def setup(self, spark) -> None:
        pass

    def unit(self, spark, label: str) -> dict:
        from crawl4ai_custom_spark.operators.frontier import CrawlConfig, FrontierEngine
        from crawl4ai_custom_spark.operators.politeness import PolitenessConfig

        _job(spark, label, "FrontierEngine.run")
        cfg = CrawlConfig(
            strategy="bfs", max_depth=CRAWL_DEPTH, max_pages=100_000,
            check_robots=True, use_bloom=True, bloom_partitions=8,
            politeness=PolitenessConfig(wave_seconds=1e9),
        )
        base = os.path.join(self.work_dir, label.replace(":", "_"))
        eng = FrontierEngine(
            spark,
            spark.read.parquet(os.path.join(self.site_dir, "pages.parquet")),
            spark.read.parquet(os.path.join(self.site_dir, "robots.parquet")),
            cfg,
            checkpoint_dir=os.path.join(base, "ckpt"),
            out_dir=os.path.join(base, "out"),
        )
        run = eng.run(self.seeds)
        return {"run": run, "pages": run.pages_crawled, "waves": run.waves,
                "admitted": [s["admitted"] for s in run.stats],
                "new_links": sum(s["new_links"] for s in run.stats)}

    def check(self, spark, out: dict, label: str) -> list[str]:
        _job(spark, f"check:{label}", "admitted log")
        run = out["run"]
        log = (run.admitted_log(spark)
               .select("wave", "order_in_wave", "url_canon")
               .orderBy("wave", "order_in_wave").collect())
        rows = [(r["wave"], r["order_in_wave"], r["url_canon"]) for r in log]
        out["log_digest"] = hashlib.md5(repr(rows).encode()).hexdigest()
        out["checkpoint_mb"] = _du_mb(run.checkpoint_dir)
        err = [f"{k} {out[k]} != {v} worked out from the site"
               for k, v in self.ref.items() if out[k] != v]
        if self.seed == PINNED_SEED:
            err += [f"{k} {out[k]} != pinned {v}"
                    for k, v in CRAWL_PINNED.items() if out[k] != v]
        if out["waves"] != CRAWL_DEPTH + 1:
            err.append(f"{out['waves']} waves, expected {CRAWL_DEPTH + 1}")
        if len(rows) != out["pages"] or sum(out["admitted"]) != out["pages"]:
            err.append(f"admitted log {len(rows)} rows, stats "
                       f"{out['admitted']}, pages {out['pages']}")
        private = [u for _, _, u in rows if "/private/" in u]
        if private:
            err.append(f"{len(private)} robots-disallowed /private/ urls crawled")
        # reproducible ordering: every crawl admits the same log, in order
        if self.log_digest is None:
            self.log_digest = out["log_digest"]
        elif out["log_digest"] != self.log_digest:
            err.append("admitted log differs from the first warm-up crawl's")
        return err


WORKLOADS = {w.name: w for w in (ExtractBulk, CrawlBfs)}
