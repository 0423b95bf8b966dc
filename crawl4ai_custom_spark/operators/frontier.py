"""The frontier wave engine: BFS / best-first / DFS crawls as iterative
DataFrame jobs (Pregel-style supersteps).

Spark re-expression of the reference's deep-crawl strategies
(/root/reference/crawl4ai/deep_crawling/{bfs,bff,dfs}_strategy.py) and
dispatcher (async_dispatcher.py): one Spark job per wave —

  frontier Δ -> politeness admission (per-domain window top-k + global
  ordered budget) -> "fetch" (raw captures ⋈ admitted, then the latest
  capture per admitted url) -> extraction mapInPandas -> link posexplode
  -> score/filter -> dedup (bloom pre-filter + exact seen anti-join) ->
  robots verdict -> next frontier Δ; seen/host_state MERGE + snapshot
  checkpoint per wave.

Determinism contract: admission order is (score DESC, depth ASC, url ASC);
link dedup keeps the (score DESC, depth ASC, parent ASC) winner; therefore
the per-wave admitted SET and the final URL-seen set are pure functions of
(seed list, pages table, config) — verified against a single-process oracle
crawler in tests/test_frontier.py.

Strategies:
  bfs        admit the whole frontier each wave (depth-synchronous)
  best_first admit the global top ``batch_size`` by score; rest carries over
  dfs        admit the longest politeness-admissible PREFIX of the LIFO
             stack each wave (depth DESC, discovery DESC, link position
             ASC; pop order preserved, politeness-blocked rows end the
             wave) — batched sequential semantics; the stack-order window
             is global by design, so this mode trades scale for ordering

Lineage truncation: frontier/host_state round-trip through the checkpoint
parquet every wave — each wave's plan starts from a scan, not from an
ever-growing lineage chain (the Iceberg MERGE pattern). The seen set is an
append-only union of immutable delta files (seeds + each wave's new_links):
per-wave state IO is O(Δ), never an O(total) rewrite.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..kernel.extract import ExtractConfig
from ..state.checkpoint import CheckpointStore
from .extraction import extract_pages_with_meta
from .filters import FilterChain, content_type_filter, domain_filter, url_pattern_filter
from .politeness import (
    RETRY_STATUSES,
    PolitenessConfig,
    admit,
    admit_dfs_prefix,
    aged_score,
    empty_host_state,
    fold_wave_outcomes,
)
from .robots import robots_gate, robots_mark
from .scorers import (
    composite_score,
    content_type_score,
    domain_authority_score,
    freshness_score,
    keyword_relevance_score,
    link_intrinsic_score,
    page_context_terms,
    path_depth_score,
)
from .seen import PartitionedBloom, empty_seen, filter_unseen_exact
from .urlops import canonicalize_abs_udf, registrable_domain_udf, url_is_valid

FRONTIER_DDL = (
    "url_canon string, url_hash long, registrable_domain string, "
    "parent_url string, depth int, score double, discovered_wave int, "
    "link_pos int, retry_count int"
)


def _write_read(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` as parquet and scan it back with the schema it was
    written with: a bare read.parquet runs a Spark job to infer the footer
    schema (~0.1 s each on the driver thread, several per wave)."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def _parquet_rows(path: str, fallback: DataFrame | None = None) -> int:
    """Row count of a just-written parquet directory from file footers —
    zero Spark jobs. The driver loop needs several per-wave scalar counts;
    footer metadata gives them for free. (Iceberg equivalent: snapshot
    manifest record counts — also metadata-only.) On a non-local
    checkpoint filesystem (hdfs/s3) the glob finds nothing and we fall back
    to a metadata-only Spark count of the given parquet-backed frame."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files and fallback is not None:
        return fallback.count()
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _parquet_count_eq(path: str, column: str, value: int,
                      fallback: DataFrame | None = None) -> int:
    """Count rows where ``column == value`` by reading ONLY that column
    (pyarrow column pruning; O(Δ) bytes, no Spark job). Used for the
    per-wave fetched-ok tally over the wave's own results delta. Falls back
    to a pruned Spark count when the path is not on a local filesystem."""
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files and fallback is not None:
        return fallback.where(F.col(column) == value).count()
    n = 0
    for f in files:
        col = pq.read_table(f, columns=[column]).column(0)
        n += pc.sum(pc.equal(col, value).cast("int64")).as_py() or 0
    return n


def _parquet_min(path: str, column: str) -> Any | None:
    """Min of a top-level ``column`` over a written parquet directory from
    row-group footer statistics — no Spark job. None when the path is not
    on a local filesystem or a non-empty row group has no min/max for it."""
    import glob

    import pyarrow.parquet as pq

    mins = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.read_metadata(f)
        leaf = [md.schema.column(c).path for c in range(md.num_columns)].index(column)
        for rg in (md.row_group(g) for g in range(md.num_row_groups)):
            if not rg.num_rows:
                continue
            st = rg.column(leaf).statistics
            if st is None or not st.has_min_max:
                return None
            mins.append(st.min)
    return min(mins, default=None)


def _seen_union(spark: SparkSession, paths: list[str]) -> DataFrame:
    """The exact seen set: one scan over its immutable url_hash deltas.
    Every delta carries ``url_hash long``; reading with that schema skips
    the per-path schema-inference job a bare read.parquet runs."""
    if not paths:
        return empty_seen(spark)
    return spark.read.schema("url_hash long").parquet(*paths)


@dataclass
class CrawlConfig:
    strategy: str = "bfs"                  # bfs | best_first | dfs
    max_depth: int = 3
    max_pages: int = 100
    batch_size: int = 10                   # best-first admission per wave
    score_threshold: float = -math.inf
    keywords: tuple[str, ...] = ()
    include_external: bool = False
    url_patterns: tuple[str, ...] = ()     # allow-globs ('' => allow all)
    blocked_domains: tuple[str, ...] = ()
    allowed_domains: tuple[str, ...] = ()
    allowed_content_types: tuple[str, ...] = ("text/html", "text/plain")
    check_robots: bool = True
    # honor robots-declared Crawl-delay in per-domain wave budgets (the
    # declared delay can only slow a host; see politeness.admit)
    respect_crawl_delay: bool = False
    politeness: PolitenessConfig = field(default_factory=PolitenessConfig)
    extract: ExtractConfig = field(default_factory=ExtractConfig)
    use_bloom: bool = True
    bloom_partitions: int = 8
    # the cogrouped prefilter stage only pays once the seen set is big;
    # below this row count the exact anti-join runs alone (the bloom is
    # still maintained so engagement later is seamless)
    bloom_min_seen: int = 200_000
    max_waves: int | None = None  # absolute wave bound (None -> strategy default)
    seen_compact_every: int = 64  # compact the seen deltas into one
    # file when the path list reaches this width (bounds the seen scan's
    # path list for 100+-wave crawls, e.g. DFS; LSM-style amortized
    # O(total/k) rewrites)
    fairness_waves: int = 0  # >0: starvation aging — a row waiting more than
    # this many waves outranks all un-aged rows (dispatcher parity,
    # async_dispatcher.py:470-527); 0 disables
    link_preview_scoring: bool = False  # head-peek the target page of every
    # discovered link and blend a contextual relevance score into the
    # frontier priority (reference link_preview.py + calculate_total_score;
    # needs keywords). Costs one extra pages-join per wave.
    page_context_scoring: bool = True  # parent-page term-overlap + docs-site
    # bonus inside the intrinsic link score (utils.py:3216-3373) — pure
    # native exprs over columns the wave already carries, ~free
    domain_authority: tuple[tuple[str, float], ...] = ()  # registrable
    # domain -> weight pairs blended into the composite link score
    # (DomainAuthorityScorer, deep_crawling/scorers.py:414-519)
    trap_guard_min_urls: int | None = None  # mine exploding (host, template)
    # URL families from the accumulated discovery deltas each wave
    # (urlops.crawl_traps thresholds) and drop flagged families from the
    # frontier BEFORE they spend politeness budget; trapped urls stay in
    # seen (discovered, never crawled). None disables.
    trap_guard_min_share: float = 0.5
    sketch_cardinality: bool = False  # write a per-wave HyperLogLog
    # register table (operators/sketches.py) over the discovery delta's
    # registrable domains, next to each new_links delta. Registers merge
    # by max across waves (and across crawls), so "how many distinct
    # hosts has this crawl touched" is answered from O(waves * 2^p) rows
    # without ever rescanning the seen set. Default off: costs one tiny
    # extra job per wave.
    sketch_p: int = 12                # 2^p registers (~1.6% std error)
    fairness_stats: bool = False  # add host_gini (share_gini of fetches
    # per registrable domain, linkgraph.share_gini) to each wave's stats
    # dict: 0 = politeness spread the wave evenly, ->1 = one host ate the
    # budget (mega-host skew leaking through admission). Costs one tiny
    # job per wave over the already-materialized results delta — the
    # group table is hosts-per-wave-sized. Default off, like the sketches.


@dataclass
class CrawlRun:
    results_dir: str
    stats: list[dict[str, Any]]
    pages_crawled: int
    waves: int
    checkpoint_dir: str
    sketch_p: int = 12   # the p the per-wave HLL sketches were built with

    def results(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.results_dir, "*", "results.parquet"))

    def admitted_log(self, spark: SparkSession) -> DataFrame:
        """The admission log is a projection of the per-wave results delta
        (one row per admitted url) — no separate admitted table exists."""
        return self.results(spark).select(
            F.col("url").alias("url_canon"), "url_hash",
            "registrable_domain", "parent_url", "depth", "score",
            "discovered_wave", "link_pos", "retry_count",
            "order_in_wave", "wave",
        )

    def lineage(self, spark: SparkSession) -> DataFrame:
        """Per-(wave, executor-partition, domain) fetch/extract metrics —
        the reference's CrawlerTaskResult/TraversalStats equivalents
        (/root/reference/crawl4ai/models.py:22-37,100-108)."""
        return spark.read.parquet(
            os.path.join(self.checkpoint_dir, "wave=*", "stats.parquet")
        )

    def queue_stats(self, spark: SparkSession) -> DataFrame:
        """Per-wave queue statistics (total admitted, max/avg wave-wait) —
        dispatcher parity (async_dispatcher.py:508-520), computed from the
        admitted log."""
        from .politeness import queue_wait_stats

        return queue_wait_stats(self.admitted_log(spark))

    def host_cardinality(self, spark: SparkSession, p: int | None = None,
                         seeds_path: str | None = None) -> DataFrame:
        """Distinct-host estimate for the whole crawl from the per-wave
        HyperLogLog sketches (CrawlConfig.sketch_cardinality): merge the
        O(waves * 2^p)-row register deltas by max, estimate once. The
        seen set is never rescanned. ``p`` defaults to the p the crawl's
        sketches were actually built with (CrawlConfig.sketch_p, carried
        on the run) — registers built at different p live in different
        address spaces and must never be max-merged, so only override it
        if you know the on-disk sketches used something else.
        ``seeds_path`` defaults to the seed table the engine materialized
        (seed hosts that produced no discovery delta still count). Raises
        if the crawl ran without sketching — there is nothing honest to
        estimate from."""
        if p is None:
            p = self.sketch_p
        import glob as _glob

        from .sketches import hll_estimate, hll_merge, hll_registers

        paths = sorted(_glob.glob(
            os.path.join(self.results_dir, "wave=*", "hll_hosts.parquet")))
        if not paths:
            raise ValueError(
                "no hll_hosts.parquet sketches under "
                f"{self.results_dir}; run with "
                "CrawlConfig.sketch_cardinality=True")
        if seeds_path is None:
            cand = os.path.join(self.checkpoint_dir, "_state", "seeds_all")
            seeds_path = cand if os.path.isdir(cand) else None
        tables = [spark.read.parquet(pth) for pth in paths]
        if seeds_path is not None:
            tables.append(hll_registers(
                spark.read.parquet(seeds_path).select("registrable_domain"),
                "registrable_domain", p=p))
        return hll_estimate(hll_merge(*tables), p=p)

    def payload_profile(self, spark: SparkSession,
                        quantile: float = 0.95) -> DataFrame:
        """One-row extracted-payload size profile (KB) for the whole
        crawl from the per-wave moments sketches
        (CrawlConfig.sketch_cardinality): fold the power-sum rows by
        plain addition, then mean/std/skew/kurtosis and a Cornish-Fisher
        ``quantile`` estimate — results history is never rescanned (the
        per-wave sketch is 1 row). Raises if the crawl ran without
        sketching."""
        import glob as _glob
        import statistics as _stats

        from .sketches import cf_quantile, moment_merge, moment_stats

        paths = sorted(_glob.glob(os.path.join(
            self.results_dir, "wave=*", "moments_payload.parquet")))
        if not paths:
            raise ValueError(
                "no moments_payload.parquet sketches under "
                f"{self.results_dir}; run with "
                "CrawlConfig.sketch_cardinality=True")
        merged = moment_merge(*[spark.read.parquet(pth) for pth in paths])
        z = _stats.NormalDist().inv_cdf(quantile)
        return cf_quantile(moment_stats(merged), quantile, z,
                           out_col="kb_q_est")


class FrontierEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        robots: DataFrame | None = None,
        cfg: CrawlConfig | None = None,
        checkpoint_dir: str | None = None,
        out_dir: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg or CrawlConfig()
        self.robots = robots
        # robots-declared Crawl-delay -> per-domain budget: extracted ONCE
        # per crawl (the robots table is static for a session), broadcast
        # into every wave's admission
        self._crawl_delays: DataFrame | None = None
        if self.cfg.respect_crawl_delay and robots is not None:
            from .robots import robots_crawl_delays

            self._crawl_delays = robots_crawl_delays(robots).cache()
        self.checkpoint_dir = checkpoint_dir or tempfile.mkdtemp(prefix="crawl_ckpt_")
        self.out_dir = out_dir or tempfile.mkdtemp(prefix="crawl_out_")
        self.store = CheckpointStore(spark, self.checkpoint_dir)
        self.update_pages(pages)

    # ------------------------------------------------------------------
    def _seed_frontier(self, seed_urls: list[str] | DataFrame) -> DataFrame:
        if not isinstance(seed_urls, DataFrame):
            # a handful of literal seeds: run the SAME kernel functions the
            # pandas UDFs wrap, driver-side — spinning up Arrow workers
            # across 32 partitions for 6 rows costs seconds of fixed
            # overhead per stage. (A DataFrame input — e.g. a million-url
            # seeder output — still takes the distributed path below.)
            from ..kernel import urlnorm

            import re as _re

            # same predicate as urlops.url_is_valid (native rlike twin)
            valid = _re.compile(r"^https?://[^/?#]*\.[^/?#]+")
            rows, seen = [], set()
            for u in seed_urls:
                if not u or not valid.match(u):
                    continue
                c = urlnorm.canonicalize_url(u)
                if not c or c in seen:
                    continue
                seen.add(c)
                rows.append((c, urlnorm.registrable_domain(c)))
            import pandas as _pd

            # Arrow path: a plain-list createDataFrame round-trips through
            # parallelize + Python workers (seconds of spinup for 2 rows).
            # Explicit schema: zero surviving seeds must yield an empty
            # frontier (clean 0-wave run), not CANNOT_INFER_EMPTY_SCHEMA.
            df = self.spark.createDataFrame(
                _pd.DataFrame(
                    rows, columns=["url_canon", "registrable_domain"]
                ).astype("object"),
                schema="url_canon string, registrable_domain string",
            ).coalesce(1)
            return (
                df.withColumn("url_hash", F.xxhash64("url_canon"))
                .withColumn("parent_url", F.lit(None).cast("string"))
                .withColumn("depth", F.lit(0))
                .withColumn("score", F.lit(1.0))
                .withColumn("discovered_wave", F.lit(0))
                .withColumn("link_pos", F.lit(0))
                .withColumn("retry_count", F.lit(0))
                .select(*[f.split(" ")[0] for f in FRONTIER_DDL.split(", ")])
            )
        seeds = seed_urls.select(F.col("url"))
        fr = (
            seeds.where(url_is_valid(F.col("url")))
            .select(canonicalize_abs_udf(F.col("url")).alias("url_canon"))
            .where(F.col("url_canon").isNotNull())
            .dropDuplicates(["url_canon"])
            .withColumn("url_hash", F.xxhash64("url_canon"))
            .withColumn("registrable_domain", registrable_domain_udf(F.col("url_canon")))
            .withColumn("parent_url", F.lit(None).cast("string"))
            .withColumn("depth", F.lit(0))
            .withColumn("score", F.lit(1.0))
            .withColumn("discovered_wave", F.lit(0))
            .withColumn("link_pos", F.lit(0))
            .withColumn("retry_count", F.lit(0))
        )
        return fr.select(*[f.split(" ")[0] for f in FRONTIER_DDL.split(", ")])

    # ------------------------------------------------------------------
    def _admission_order(self):
        if self.cfg.strategy == "dfs":
            return [
                F.desc("depth"),
                F.desc("discovered_wave"),
                F.asc("link_pos"),
                F.asc("url_canon"),
            ]
        return [F.desc("score"), F.asc("depth"), F.asc("url_canon")]

    def _admit_wave(self, frontier: DataFrame, host_state: DataFrame,
                    remaining_budget: int) -> DataFrame:
        cfg = self.cfg
        if cfg.strategy == "bfs":
            cap = remaining_budget
        elif cfg.strategy == "best_first":
            cap = min(cfg.batch_size, remaining_budget)
        else:  # dfs
            # batched LIFO: admit the longest politeness-admissible prefix
            # of the stack per wave (pop order preserved) — waves shrink
            # ~|prefix|x vs the old one-url-per-wave sequential mode
            return admit_dfs_prefix(
                frontier, host_state, cfg.politeness,
                self._admission_order(), remaining_budget,
                crawl_delays=self._crawl_delays,
            )
        return admit(frontier, host_state, cfg.politeness, global_budget=cap,
                     crawl_delays=self._crawl_delays)

    # ------------------------------------------------------------------
    def _link_score_cols(self, with_context: bool) -> tuple[Column, Column | None]:
        """(composite link score, link-preview blended score or None).
        Wave-invariant: run() builds them once and every wave reuses them
        (building the scorer trees costs hundreds of py4j calls)."""
        cfg = self.cfg
        href = F.col("href")
        ctx_terms = F.col("parent_terms") if with_context else None
        ctx_host = F.col("parent_host") if with_context else None
        parts = [
            (path_depth_score(href), 0.2),
            (content_type_score(href), 0.2),
            (freshness_score(href), 0.1),
            (
                link_intrinsic_score(
                    href, F.col("text"), F.col("title"), F.col("is_internal"),
                    ctx_terms, ctx_host,
                )
                / F.lit(10.0),
                0.3,
            ),
        ]
        if cfg.keywords:
            parts.append((keyword_relevance_score(href, list(cfg.keywords)), 0.4))
        if cfg.domain_authority:
            parts.append((
                domain_authority_score(
                    F.col("registrable_domain"), dict(cfg.domain_authority)
                ),
                0.2,
            ))
        score = composite_score(parts)
        if not (cfg.link_preview_scoring and cfg.keywords):
            return score, None
        # three-tier scoring (reference link_preview.py +
        # calculate_total_score): BM25-lite contextual score over the
        # head-peeked target, 0.7/0.3 blend with the intrinsic score,
        # normalized back to the frontier's 0..1 priority scale. Missing
        # targets fall back intrinsic-only.
        from .headpeek import head_relevance_score
        from .linkpreview import total_score

        contextual = F.when(
            F.col("head_title").isNotNull(),
            head_relevance_score(
                F.col("head_title"), F.col("head_description"),
                F.col("head_keywords"), list(cfg.keywords),
            ),
        )
        intrinsic10 = link_intrinsic_score(
            href, F.col("text"), F.col("title"), F.col("is_internal"),
            ctx_terms, ctx_host,
        )
        return score, total_score(intrinsic10, contextual) / F.lit(10.0)

    def _score_links(self, links: DataFrame,
                     cols: tuple[Column, Column | None]) -> DataFrame:
        """links: (href, text, title, base_domain, is_internal, link_pos,
        parent_url, parent_depth [, parent_terms, parent_host]). ``cols``
        is the run's prebuilt _link_score_cols."""
        score, preview = cols
        scored = links.withColumn("score", score)
        if preview is not None:
            from .headpeek import peek_head

            # peek ONLY the pages this wave links to: semi-join the captures
            # to the wave's distinct hrefs (small: AQE broadcasts them)
            # BEFORE the latest-capture window and the head regex scan — the
            # optimizer does not push a semi-join below the window's filter,
            # and a full-table pass per wave would dominate at 10^10 pages.
            wave_targets = links.select(F.col("href").alias("url_canon")).distinct()
            heads = peek_head(
                self._fetch(wave_targets, "semi")
                .select(F.col("url_canon").alias("href"), "html")
            ).select("href", "head_title", "head_description", "head_keywords")
            scored = (
                scored.join(heads, "href", "left")
                .withColumn("score", preview)
                .drop("head_title", "head_description", "head_keywords")
            )
        return scored

    def _link_filter_chain(self) -> FilterChain:
        cfg = self.cfg
        chain = FilterChain()
        chain.add("valid", url_is_valid(F.col("url_canon")))
        if not cfg.include_external:
            chain.add("internal_only", F.col("is_internal"))
        if cfg.url_patterns:
            chain.add(
                "pattern",
                url_pattern_filter(F.col("url_canon"), list(cfg.url_patterns)),
            )
        chain.add(
            "content_type",
            content_type_filter(F.col("url_canon"), list(cfg.allowed_content_types)),
        )
        if cfg.allowed_domains or cfg.blocked_domains:
            chain.add(
                "domain",
                domain_filter(
                    F.col("registrable_domain"),
                    list(cfg.allowed_domains) or None,
                    list(cfg.blocked_domains) or None,
                ),
            )
        chain.add("depth", F.col("depth") <= F.lit(cfg.max_depth))
        if cfg.score_threshold > -math.inf:
            chain.add("score", F.col("score") >= F.lit(cfg.score_threshold))
        return chain

    # ------------------------------------------------------------------
    def _fetch(self, urls: DataFrame, how: str = "right") -> DataFrame:
        """"Fetch" ``urls`` (keyed ``url_canon``): raw captures ⋈ urls, then
        the latest capture per url — no copy of the web. ``how="right"`` is
        the wave fetch (html NULL on a miss), ``"semi"`` the link peek. A
        right join builds on the left: the CAPTURES side is broadcast under
        autoBroadcastJoinThreshold, else the join is sort-merge (ROADMAP
        item 2). Either way the window on the admitted key (each miss its
        own group) reuses the join's partitioning: no Exchange."""
        from ..sources.pages import latest_pages

        return latest_pages(
            self._captures.join(urls, "url_canon", how), key="url_canon")

    def _materialize(self, df: DataFrame, name: str) -> DataFrame:
        """Write+read once (lineage truncation / materialized view)."""
        path = os.path.join(self.checkpoint_dir, "_state", name)
        return _write_read(df, path)

    def _new_bloom(self) -> PartitionedBloom:
        return PartitionedBloom(
            self.spark, self.cfg.bloom_partitions,
            state_dir=os.path.join(self.checkpoint_dir, "_state", "bloom"),
        )

    def run(self, seed_urls: list[str] | DataFrame,
            resume: bool = False) -> CrawlRun:
        spark, cfg = self.spark, self.cfg
        stats: list[dict[str, Any]] = []
        bloom = self._new_bloom() if cfg.use_bloom else None
        # hashes discovered but not yet folded into the bloom: the seeds,
        # which fold on wave 0's commit thread together with wave 0's links
        bloom_pending: DataFrame | None = None
        frontier_cols = [c.split(" ")[0] for c in FRONTIER_DDL.split(", ")]

        # The seen set is APPEND-ONLY: a union view over immutable delta
        # files (the seed frontier + each wave's new_links parquet, which
        # are disjoint by construction — every delta was anti-joined against
        # the view before being written). Nothing ever rewrites the full
        # seen table: per-wave state IO is O(Δ), not O(total) — at 10^10
        # urls a union-distinct rewrite per wave would be the dominant cost
        # of the whole crawl. (Iceberg equivalent: append-only partitions.)
        seen_paths: list[str] = []

        start_wave = 0
        crawled = 0
        trap_deltas_meta: list[str] | None = None
        if resume and self.store.latest_wave() is not None:
            w0 = self.store.latest_wave()
            snap = self.store.read(w0)
            frontier = snap["frontier"]
            frontier_path = os.path.join(self.store._wave_dir(w0), "frontier.parquet")
            host_state = snap["host_state"]
            meta = snap.get("_meta", {})
            crawled = int(meta.get("pages_crawled", 0))
            stats = list(meta.get("stats", []))
            seen_paths = list(meta.get("seen_deltas", []))
            if not seen_paths and "seen" in snap:  # pre-delta snapshot layout
                seen_paths = [
                    os.path.join(self.store._wave_dir(w0), "seen.parquet")
                ]
            start_wave = w0 + 1
            td = meta.get("trap_deltas")
            trap_deltas_meta = list(td) if td is not None else None
            if bloom is not None and "bloom" in snap:
                bloom.state = snap["bloom"]  # parquet-backed snapshot read
            n_frontier = _parquet_rows(frontier_path, fallback=frontier)
        else:
            # seen/bloom hold EVERY discovered url (robots-blocked included,
            # matching the oracle); the robots verdict is a stored column of
            # the one seed write, as of each discovery delta, so every row
            # is robots-gated exactly once and the frontier's size is a
            # pruned column tally (no job).
            seeds_all = self._materialize(
                robots_mark(self._seed_frontier(seed_urls),
                            self.robots if cfg.check_robots else None),
                "seeds_all",
            )
            seeds_path = os.path.join(self.checkpoint_dir, "_state", "seeds_all")
            frontier = seeds_all.where(F.col("robots_allowed")).select(*frontier_cols)
            n_frontier = _parquet_count_eq(seeds_path, "robots_allowed", True,
                                           fallback=seeds_all)
            seen_paths = [seeds_path]
            host_state = empty_host_state(spark)
            if bloom is not None:
                bloom_pending = seeds_all.select("url_hash")
            if os.path.isdir(self.out_dir):
                shutil.rmtree(self.out_dir)
            os.makedirs(self.out_dir, exist_ok=True)

        # trap-guard count deltas: the authoritative list rides in the
        # snapshot manifest (like seen_deltas) so resume survives both
        # trap-delta and seen-delta compaction. Legacy manifests without
        # the key fall back to a directory scan of the seen paths —
        # preferring a compact file (which already folds that wave's own
        # delta) over the per-wave delta in the same dir.
        trap_count_paths: list[str] = []
        if cfg.trap_guard_min_urls is not None:
            if trap_deltas_meta is not None:
                trap_count_paths = list(trap_deltas_meta)
            else:
                for p in seen_paths:
                    d = os.path.dirname(p)
                    comp = os.path.join(d, "trap_counts_compact.parquet")
                    tc = os.path.join(d, "trap_counts.parquet")
                    if os.path.isdir(comp):
                        trap_count_paths = [comp]
                    elif os.path.isdir(tc):
                        trap_count_paths.append(tc)

        # wave-invariant Columns, built once per run (each is a tree of
        # py4j calls; only discovered_wave changes from wave to wave)
        fetch_status = F.when(F.col("html").isNull(), 404).otherwise(
            F.coalesce(F.col("_page_status"), F.lit(200))
            if "_page_status" in self._captures.columns
            else F.lit(200)
        )
        # parent-page context (extract_page_context parity) is computed ONCE
        # per page before the explode, so every link row carries a
        # precomputed term array — native exprs, no extra pass
        parent_cols = []
        if cfg.page_context_scoring:
            headlines = F.concat_ws(
                " ",
                F.regexp_extract_all(
                    F.coalesce("raw_markdown", F.lit("")),
                    F.lit(r"(?m)^#{1,3} (.+)$"), F.lit(1),
                ),
            )
            parent_cols = [
                page_context_terms(
                    F.col("title"), headlines,
                    F.element_at("metadata", F.lit("description")),
                ).alias("parent_terms"),
                F.lower(
                    F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
                ).alias("parent_host"),
            ]
        link_score_cols = self._link_score_cols(cfg.page_context_scoring)
        link_filter = self._link_filter_chain().predicate()
        # order_in_wave is a GLOBAL row_number: the admitted wave is one
        # partition
        admission_order = Window.orderBy(*self._admission_order())
        # dedup within wave: deterministic winner
        link_winner = Window.partitionBy("url_canon").orderBy(
            F.desc("score"), F.asc("depth"), F.asc("parent_url"), F.asc("link_pos")
        )
        wave = start_wave
        max_waves = cfg.max_waves or (1000 if cfg.strategy == "dfs" else 64)
        import threading
        import time as _time

        # the previous wave's snapshot commit runs on this thread while the
        # CURRENT wave's admission+extract job executes — the commit latency
        # hides behind the wave's dominant job. Joined right after the
        # results delta lands (before anything reads the snapshot files).
        commit_thread: threading.Thread | None = None
        commit_errors: list[BaseException] = []
        next_frontier_upper = -1  # unknown until a wave computes it

        def _commit_target(wave_no, tables, meta=None,
                           bloom_delta=None) -> None:
            # runs on the commit thread; exceptions are re-raised by
            # _join_commit on the driver thread so a failed snapshot write
            # surfaces at the wave that scheduled it, not one wave later as a
            # missing-manifest read error
            try:
                # thread-local: labels the async commit's jobs without
                # touching the main thread's descriptions
                spark.sparkContext.setJobDescription(
                    f"wave {wave_no}: snapshot commit")
                if bloom_delta is not None:
                    # the bloom fold (shuffle + applyInPandas + state write)
                    # is hidden behind the next wave's admission+extract job
                    # like the rest of the commit. Safe: the driver thread
                    # only consults bloom.state in the next wave's link
                    # discovery, which runs strictly after _join_commit; the
                    # snapshot invariant (bloom covers seen) holds because
                    # the state is folded before the manifest is written.
                    bloom.add(bloom_delta)
                    tables = {**tables, "bloom": bloom.state}
                self.store.write(wave_no, tables, meta=meta)
            except BaseException as exc:  # noqa: BLE001 — re-raised on join
                commit_errors.append(exc)

        def _join_commit() -> None:
            nonlocal commit_thread
            if commit_thread is not None:
                commit_thread.join()
                commit_thread = None
            if commit_errors:
                raise RuntimeError(
                    "wave snapshot commit failed"
                ) from commit_errors.pop(0)

        try:
            while wave < max_waves:
                _t = {"_w0": _time.time()}

                def _mark(name):
                    _t[name] = round(_time.time() - _t.pop("_w0"), 2)
                    _t["_w0"] = _time.time()

                # the first wave's frontier count came from parquet metadata
                # before the loop (no job); every later wave starts while the
                # previous commit is in flight, so its count is deferred (-1)
                # unless provably empty (no leftover, discoveries or retries).
                # No depth check: the link filter admits depth <= max_depth.
                if commit_thread is not None:
                    n_frontier = 0 if next_frontier_upper == 0 else -1
                _mark("t_frontier_agg")
                if n_frontier == 0 or crawled >= cfg.max_pages:
                    _join_commit()
                    break

                adm_frontier = frontier
                if cfg.fairness_waves > 0:
                    adm_frontier = frontier.withColumn(
                        "score",
                        aged_score(
                            F.col("score"),
                            F.lit(wave) - F.col("discovered_wave"),
                            cfg.fairness_waves,
                        ),
                    )
                admitted = self._admit_wave(
                    adm_frontier, host_state, cfg.max_pages - crawled
                )
                admitted = admitted.withColumn(
                    "order_in_wave", F.row_number().over(admission_order)
                ).withColumn("wave", F.lit(wave))
                _mark("t_admission")

                # ---- admission + fetch + extraction + results: ONE write job
                # per wave. The admitted view is re-derived from the results
                # parquet (_fetch keeps one row per admitted url).
                wave_dir = os.path.join(self.out_dir, f"wave={wave:05d}")
                fetched = (
                    self._fetch(admitted)
                    .withColumn("status_code", fetch_status)
                    .withColumn("_do_extract", F.col("status_code") == 200)
                )
                # parallelism hint from the known frontier size: a 6-url wave
                # runs 1 extraction task instead of 32 near-empty ones (task
                # scheduling dominates small waves); big waves keep full width
                # (during an overlapped commit the exact count is deferred;
                # the previous wave's driver-side upper bound stands in).
                # extract_pages_with_meta reads the fetch frame's width from
                # its plan without running it (see _fetch): one partition
                # while the captures are broadcast (admitted is one
                # partition), the shuffle-partition count when sort-merge.
                size_hint = n_frontier if n_frontier >= 0 else next_frontier_upper
                par_hint = None
                if size_hint > 0:
                    par_hint = max(1, min(
                        spark.sparkContext.defaultParallelism,
                        (size_hint + 63) // 64,
                    ))
                results = extract_pages_with_meta(
                    fetched.select(
                        F.col("url_canon").alias("url"), "html", "_do_extract",
                        "url_hash", "registrable_domain", "parent_url", "depth",
                        "score", "discovered_wave", "link_pos", "retry_count",
                        "status_code", "order_in_wave", "wave",
                    ),
                    cfg.extract,
                    min_parallelism=par_hint,
                )
                results_path = os.path.join(wave_dir, "results.parquet")
                spark.sparkContext.setJobDescription(
                    f"wave {wave}: admit+fetch+extract+write")
                results = _write_read(results, results_path)
                spark.sparkContext.setJobDescription(None)
                n_admitted = _parquet_rows(results_path, fallback=results)  # footer-only
                # the overlapped snapshot commit has now been fully hidden behind
                # the admission+extract job: join it and REBASE frontier /
                # host_state onto the committed parquet scans, truncating the
                # one-wave-deep lazy lineage the admission ran on
                if commit_thread is not None:
                    _join_commit()
                    snap = self.store.read(wave - 1)
                    frontier, host_state = snap["frontier"], snap["host_state"]
                    if n_frontier < 0:
                        n_frontier = _parquet_rows(frontier_path, fallback=frontier)
                if n_admitted == 0:
                    _mark("t_fetch_extract")
                    break
                admitted = results.select(
                    F.col("url").alias("url_canon"), "url_hash",
                    "registrable_domain", "parent_url", "depth", "score",
                    "discovered_wave", "link_pos", "retry_count",
                    "order_in_wave", "wave",
                )
                # filtered tally from a single pruned column of the O(Δ) results
                # delta we just wrote — avoids a whole Spark job per wave
                n_ok = _parquet_count_eq(results_path, "status_code", 200,
                                         fallback=results)
                if cfg.sketch_cardinality and n_ok > 0:
                    # per-wave payload moments sketch (power sums of the
                    # extracted-markdown size in KB) next to the HLL host
                    # registers: 1 row per wave, folds across waves/epochs
                    # by plain addition (CrawlRun.payload_profile) — crawl
                    # telemetry that never rescans results history
                    from .sketches import moment_sums

                    moment_sums(
                        results.where(F.col("status_code") == 200).select(
                            (F.length(F.coalesce("raw_markdown", F.lit("")))
                             / 1000.0).alias("kb")),
                        "kb",
                    ).write.mode("overwrite").parquet(
                        os.path.join(wave_dir, "moments_payload.parquet"))
                _mark("t_fetch_extract")

                # ---- link discovery (hrefs already canonical from the kernel).
                # Every candidate sits one level below its parent page, so when
                # the wave's shallowest page is already at max_depth (footer
                # statistics, no job) the filter chain's depth predicate drops
                # them all: a depth-exhausted wave (every crawl's last) builds
                # no link plan, writes no delta and adds nothing to seen.
                min_depth = _parquet_min(results_path, "depth")
                if min_depth is not None and min_depth >= cfg.max_depth:
                    new_links, n_new = None, 0
                else:
                    links = (
                        results.select(
                            F.col("url").alias("parent_url"),
                            F.col("depth").alias("parent_depth"),
                            *parent_cols,
                            F.posexplode_outer("links").alias("link_pos", "link"),
                        )
                        .where(F.col("link").isNotNull())
                        .select(
                            "parent_url",
                            "parent_depth",
                            "link_pos",
                            *(["parent_terms", "parent_host"] if parent_cols else []),
                            F.col("link.href").alias("href"),
                            F.col("link.text").alias("text"),
                            F.col("link.title").alias("title"),
                            F.col("link.base_domain").alias("registrable_domain"),
                            F.col("link.is_internal").alias("is_internal"),
                        )
                    )
                    links = self._score_links(links, link_score_cols)
                    cand = links.select(
                        F.col("href").alias("url_canon"),
                        F.xxhash64("href").alias("url_hash"),
                        "registrable_domain",
                        "parent_url",
                        (F.col("parent_depth") + 1).alias("depth"),
                        "score",
                        F.lit(wave + 1).alias("discovered_wave"),
                        "link_pos",
                        F.lit(0).alias("retry_count"),
                        "is_internal",
                    )
                    cand = (
                        cand.where(link_filter)
                        .withColumn("_rn", F.row_number().over(link_winner))
                        .where(F.col("_rn") == 1)
                        .drop("_rn", "is_internal")
                    )
                    # bloom pre-filter (cheap) then EXACT anti-join (invariant).
                    # The prefilter's cogrouped python stage only pays once the
                    # seen set (footer count, no job) reaches bloom_min_seen;
                    # the bloom is always maintained, so snapshots' blooms
                    # cover seen. Wave 0 runs the exact anti-join alone: until
                    # its commit folds the seeds in, a seed would be a bloom
                    # false negative and bypass the exact check.
                    use_prefilter = bloom is not None and bloom_pending is None
                    if use_prefilter:
                        import glob as _glob

                        n_seen = 0
                        for p in seen_paths:
                            if not _glob.glob(os.path.join(p, "*.parquet")):
                                break  # remote fs: assume big
                            n_seen += _parquet_rows(p)
                        else:
                            use_prefilter = n_seen >= cfg.bloom_min_seen
                    if use_prefilter:
                        cand = bloom.prefilter(cand)
                        maybe = cand.where(F.col("bloom_maybe_seen")).drop("bloom_maybe_seen")
                        fresh = cand.where(~F.col("bloom_maybe_seen")).drop("bloom_maybe_seen")
                        new_links = fresh.unionByName(filter_unseen_exact(
                            maybe, _seen_union(spark, seen_paths)))
                    else:
                        new_links = filter_unseen_exact(
                            cand, _seen_union(spark, seen_paths))
                    # robots verdict computed HERE, once, as a stored column: the
                    # lazy next_frontier runs twice (commit + next admission),
                    # and a gate-as-filter would run the rule matcher twice.
                    # Blocked urls still enter seen (oracle semantics); the
                    # frontier drops them by the stored flag.
                    if cfg.check_robots and self.robots is not None:
                        new_links = robots_mark(new_links, self.robots)
                    # materialize the discovery Δ ONCE: frontier input, seen
                    # delta and discovery log — the link chain runs once.
                    new_links_path = os.path.join(wave_dir, "new_links.parquet")
                    spark.sparkContext.setJobDescription(
                        f"wave {wave}: link discovery (explode+score+dedup+antijoin)")
                    new_links = _write_read(new_links, new_links_path)
                    spark.sparkContext.setJobDescription(None)
                    n_new = _parquet_rows(new_links_path, fallback=new_links)  # footer-only
                    seen_paths.append(new_links_path)  # append-only seen delta
                    if len(seen_paths) >= cfg.seen_compact_every:
                        compact = os.path.join(
                            self.checkpoint_dir, "_state", f"seen_compact_{wave:05d}"
                        )
                        _seen_union(spark, seen_paths).write.mode(
                            "overwrite").parquet(compact)
                        seen_paths = [compact]

                # ---- next frontier + state folds, each written exactly once via
                # the snapshot (the Iceberg-MERGE-per-wave pattern). The robots
                # gate runs on the O(Δ) discovery delta only — blocked urls stay
                # in seen (oracle semantics: discovered but never crawlable) and
                # never enter the frontier, so no wave re-gates old rows.
                if cfg.sketch_cardinality and n_new > 0:
                    # per-wave HLL host sketch, stored like the trap-count
                    # deltas: O(2^p) rows from the already-materialized
                    # discovery delta; merged on demand by
                    # host_cardinality() with register-max
                    from .sketches import hll_registers

                    hll_registers(
                        new_links.select("registrable_domain"),
                        "registrable_domain", p=cfg.sketch_p,
                    ).write.mode("overwrite").parquet(
                        os.path.join(wave_dir, "hll_hosts.parquet"))

                delta = new_links  # None: the wave discovered nothing
                if delta is not None and cfg.trap_guard_min_urls is not None:
                    # mine exploding (host, template) families from the
                    # accumulated O(Δ) count deltas; flagged families never
                    # enter the frontier (they stay in seen — discovered,
                    # never crawled). The count append is a groupBy over
                    # THIS wave's delta only; the mined list is tiny (one
                    # row per template family) and broadcasts in the
                    # anti-join, so the frontier never shuffles for it.
                    from .urlops import (
                        filter_trapped_urls,
                        trap_counts,
                        traps_from_counts,
                    )

                    if n_new > 0:
                        tc_path = os.path.join(wave_dir, "trap_counts.parquet")
                        trap_counts(new_links, url_col="url_canon") \
                            .write.mode("overwrite").parquet(tc_path)
                        trap_count_paths.append(tc_path)
                    if len(trap_count_paths) >= cfg.seen_compact_every:
                        # same LSM-style width bound as the seen deltas:
                        # fold the per-wave counts into one file (the
                        # template table is tiny — one row per family —
                        # so the rewrite is O(templates), not O(urls))
                        comp = os.path.join(wave_dir, "trap_counts_compact.parquet")
                        (spark.read.parquet(*trap_count_paths)
                         .groupBy("host", "template")
                         .agg(F.sum("n_urls").alias("n_urls"))
                         .write.mode("overwrite").parquet(comp))
                        trap_count_paths = [comp]
                    if trap_count_paths:
                        mined = traps_from_counts(
                            spark.read.parquet(*trap_count_paths),
                            min_urls=cfg.trap_guard_min_urls,
                            min_share=cfg.trap_guard_min_share,
                        )
                        delta = filter_trapped_urls(
                            delta, mined, url_col="url_canon")
                if delta is not None and cfg.check_robots and self.robots is not None:
                    # verdict was computed at delta-write time (robots_mark
                    # above): the frontier gate is now a stored-column filter
                    delta = delta.where(F.col("robots_allowed"))
                # the lazy next_frontier executes TWICE (async commit + the
                # next wave's admission), so every branch pruned here is
                # pruned from two plans. Both prunes are count-proven:
                #   - admitted ⊆ frontier and n_admitted == n_frontier means
                #     the anti-join leftover is empty (the common BFS case —
                #     the whole frontier admits every wave);
                #   - zero transient statuses in the results delta (footer-
                #     only column tally) means the retry semi-join is empty.
                n_transient = (
                    sum(_parquet_count_eq(results_path, "status_code", s,
                                          fallback=results)
                        for s in RETRY_STATUSES)
                    if cfg.politeness.max_retries > 0 else 0
                )
                if n_frontier >= 0 and n_admitted == n_frontier:
                    leftover = frontier.limit(0)
                else:
                    leftover = frontier.join(
                        admitted.select("url_canon"), "url_canon", "left_anti"
                    )
                next_frontier = leftover.select(*frontier_cols)
                if delta is not None:
                    next_frontier = next_frontier.unionByName(
                        delta.select(*frontier_cols))
                # retry/requeue (dispatcher parity, async_dispatcher.py:289-331):
                # transient statuses re-enter the frontier with retry_count+1
                # until max_retries; the backoff fold below shrinks their
                # domain's next-wave budget at the same time
                if cfg.politeness.max_retries > 0 and n_transient > 0:
                    transient = results.where(
                        F.col("status_code").isin(*RETRY_STATUSES)
                    ).select(F.col("url").alias("url_canon"))
                    retries = (
                        admitted.join(transient, "url_canon", "semi")
                        .select(*frontier_cols)
                        .where(F.col("retry_count") < cfg.politeness.max_retries)
                        .withColumn("retry_count", F.col("retry_count") + 1)
                    )
                    next_frontier = next_frontier.unionByName(retries)
                next_frontier_upper = (
                    max(0, n_frontier - n_admitted) + n_new + n_transient
                )
                next_host_state = fold_wave_outcomes(
                    host_state,
                    results.select("registrable_domain", "status_code"),
                    cfg.politeness,
                )
                _mark("t_link_discovery")
                crawled += n_admitted
                stats.append(
                    {
                        "wave": wave,
                        "frontier_size": n_frontier,
                        "admitted": n_admitted,
                        "fetched_ok": n_ok,
                        "fetch_miss": n_admitted - n_ok,
                        "new_links": n_new,
                        "pages_crawled": crawled,
                    }
                )
                if cfg.fairness_stats and n_admitted > 0:
                    # per-wave host-fairness Gini from the materialized
                    # results delta (one tiny job; group table = hosts
                    # this wave). 0 = even politeness spread, ->1 = one
                    # host ate the wave.
                    from .linkgraph import share_gini

                    g = share_gini(
                        results.select("registrable_domain"),
                        "registrable_domain",
                    ).first()  # one-row result: bounded driver scalar
                    stats[-1]["host_gini"] = (
                        round(g["gini"], 4) if g["gini"] is not None
                        else None)
                    stats[-1]["hosts_in_wave"] = g["n_groups"]
                # per-partition lineage: (exec_partition, domain) -> fetch/extract
                # metrics, from the already-materialized results parquet (cheap
                # scan; the reference's CrawlerTaskResult/TraversalStats parity)
                lineage = results.groupBy(
                    "wave", "exec_partition", "registrable_domain"
                ).agg(
                    F.count(F.lit(1)).alias("fetched"),
                    F.sum(F.col("success").cast("int")).alias("extracted_ok"),
                    F.sum(F.coalesce("html_bytes", F.lit(0))).alias("html_bytes"),
                    F.sum(F.coalesce("extract_ms", F.lit(0.0))).alias("extract_ms"),
                    F.max("order_in_wave").alias("max_order_in_wave"),
                )
                # the new links (on wave 0, with the seeds) fold into the
                # bloom ON THE COMMIT THREAD, before the snapshot manifest
                # lands (see _commit_target): a bloom false NEGATIVE bypasses
                # the exact anti-join, so a snapshot bloom lagging its seen
                # set could re-admit seen urls on resume. Off the driver
                # thread, the fold hides behind the next wave's job. Nothing
                # discovered (every crawl's last wave): nothing to fold.
                bloom_delta = bloom_pending
                if bloom is not None and n_new > 0:
                    # parquet-backed scans: safe on the commit thread
                    hashes = new_links.select("url_hash")
                    bloom_delta = (hashes if bloom_delta is None
                                   else bloom_delta.unionByName(hashes))
                bloom_pending = None
                # snapshot commit runs CONCURRENTLY with the next wave's
                # admission+extract job (joined right after that wave's results
                # land). next_frontier/next_host_state read only already-
                # materialized parquet (this wave's results/new_links + the
                # previous snapshot), so the next admission's lineage is one
                # wave deep until the post-join rebase truncates it. Manifest
                # meta gets an immutable copy — `stats` keeps mutating here.
                import copy as _copy

                commit_thread = threading.Thread(
                    target=inheritable_thread_target(spark)(_commit_target),
                    args=(
                        wave,
                        {
                            "frontier": next_frontier,
                            "host_state": next_host_state,
                            "bloom": bloom.state if bloom is not None else None,
                            "stats": lineage,
                        },
                    ),
                    kwargs={
                        "bloom_delta": bloom_delta,
                        "meta": {
                            "pages_crawled": crawled,
                            "stats": _copy.deepcopy(stats),
                            # the seen set is the union of these immutable deltas
                            "seen_deltas": list(seen_paths),
                            # trap-count deltas (post-compaction list) — the
                            # manifest copy is what resume trusts; the old
                            # rebuild-by-scanning-seen-dirs lost pre-compaction
                            # counts once seen_compact folded the wave paths
                            "trap_deltas": list(trap_count_paths),
                        },
                    },
                    daemon=True,
                )
                commit_thread.start()
                frontier, host_state = next_frontier, next_host_state
                frontier_path = os.path.join(self.store._wave_dir(wave), "frontier.parquet")
                _mark("t_state_commit")
                _t.pop("_w0", None)
                stats[-1].update(_t)
                wave += 1
        except BaseException:
            # join the in-flight commit without masking the primary error
            if commit_thread is not None:
                commit_thread.join()
                commit_thread = None
            raise
        _join_commit()

        return CrawlRun(
            results_dir=self.out_dir,
            stats=stats,
            pages_crawled=crawled,
            waves=wave - start_wave,
            checkpoint_dir=self.checkpoint_dir,
            sketch_p=self.cfg.sketch_p,
        )

    # ---- re-crawl scheduling (operate between runs, on the checkpoint) ---
    #
    # Two complementary operations, both committed as a NEW snapshot wave so
    # prior snapshots stay immutable and `run(resume=True)` continues from
    # the amended state:
    #
    #   requeue(urls)     force a re-crawl NOW: the urls re-enter the
    #                     frontier (politeness/budget apply as usual). The
    #                     seen set keeps them, so link discovery cannot
    #                     double-queue them.
    #   retire_seen(urls) forget the urls were ever discovered: they leave
    #                     the exact seen set AND the prefilter, so organic
    #                     link rediscovery re-queues them naturally later.
    #                     Bloom has no deletes, so the blobs are REBUILT
    #                     from the compacted seen set — retire_seen already
    #                     rewrites that whole set, so the rebuild adds no
    #                     higher-order cost.
    #
    # Feed either from `recrawl.revisit_priority` output (its top rows are
    # the urls whose smoothed change rate says "look again").

    def _amended_snapshot_base(self) -> tuple[int, dict, dict]:
        w0 = self.store.latest_wave()
        if w0 is None:
            raise ValueError("no complete snapshot to amend — run() first")
        snap = self.store.read(w0)
        meta = dict(snap.get("_meta", {}))
        return w0, snap, meta

    def requeue(self, urls) -> int:
        """Push already-crawled urls back into the frontier (new snapshot).
        ``urls``: list[str] or DataFrame with a ``url`` column. Returns the
        number of rows queued."""
        w0, snap, meta = self._amended_snapshot_base()
        rows = self._seed_frontier(urls)
        if self.cfg.check_robots and self.robots is not None:
            rows = robots_gate(rows, self.robots)
        rows = self._materialize(rows, f"requeue_{w0 + 1}")
        n = rows.count()
        fr = (
            snap["frontier"].unionByName(rows)
            .dropDuplicates(["url_canon"])
        )
        self.store.write(
            w0 + 1,
            {"frontier": fr, "host_state": snap["host_state"],
             "bloom": snap.get("bloom"), "stats": None},
            meta=meta,
        )
        return n

    def retire_seen(self, urls) -> int:
        """Remove urls from the seen state (new snapshot): organic link
        rediscovery will re-queue them on the next resumed crawl. Returns
        the number of seen rows removed."""
        w0, snap, meta = self._amended_snapshot_base()
        spark = self.spark
        if not isinstance(urls, DataFrame):
            from ..session import local_df

            urls = local_df(spark, [(u,) for u in urls], "url string")
        retire = urls.select(
            canonicalize_abs_udf(F.col("url")).alias("url_canon")
        ).withColumn("url_hash", F.xxhash64("url_canon")).select("url_hash")
        retire = self._materialize(retire, f"retire_{w0 + 1}")
        seen = _seen_union(spark, list(meta.get("seen_deltas", [])))
        n_before = seen.count()
        kept = seen.join(retire, "url_hash", "left_anti")
        compact = os.path.join(
            self.checkpoint_dir, "_state", f"seen_retired_{w0 + 1:05d}"
        )
        kept = _write_read(kept, compact)
        n_removed = n_before - kept.count()
        meta["seen_deltas"] = [compact]

        filter_state = snap.get("bloom")
        if self.cfg.use_bloom and filter_state is not None:
            pb = self._new_bloom()
            pb.add(kept)                   # full rebuild from kept
            filter_state = pb.state
        self.store.write(
            w0 + 1,
            {"frontier": snap["frontier"], "host_state": snap["host_state"],
             "bloom": filter_state, "stats": None},
            meta=meta,
        )
        return int(n_removed)

    def update_pages(self, new_pages: DataFrame) -> None:
        """Set/swap the web capture (also the __init__ path, so the column
        setup lives exactly once): subsequent runs fetch against it. Nothing
        is copied: each wave's fetch joins the raw captures (``_fetch``),
        and ``self.pages`` is the lazy latest-capture view the recrawl diff
        and the link-preview peek read."""
        from ..sources.pages import latest_pages

        # an optional status_code column in the pages table simulates
        # transient fetch outcomes (429/503 -> retry with backoff)
        page_cols = [F.col("url").alias("url_canon"), "html", "warc_ts", "lang"]
        if "status_code" in new_pages.columns:
            page_cols.append(F.col("status_code").alias("_page_status"))
        # a NULL-url capture can never be fetched (the fetch joins on url):
        # drop it at ingest so it never becomes a latest-view row
        self._captures = new_pages.where(F.col("url").isNotNull()).select(*page_cols)
        self.pages = latest_pages(self._captures, key="url_canon")

    def schedule_recrawl(self, new_pages: DataFrame) -> dict:
        """Close the re-crawl loop at engine level (the reference's digest
        re-crawl: adaptive_crawler.py resumes a crawl against a changed
        site): diff the engine's current capture against ``new_pages`` and
        amend the checkpoint so the next ``run(resume=True)``:

          * CHANGED crawled urls are requeued — they stay in the seen set
            (link rediscovery cannot double-queue them) and re-enter the
            frontier, re-admitted through politeness/budget as usual;
          * GONE crawled urls are retired from the exact seen set AND the
            prefilter (bloom rebuilt from the kept set) — organic link
            rediscovery re-queues them and the fetch records the miss;
          * NEW urls need nothing: they were never seen, so normal link
            discovery admits them.

        Only urls present in the seen set participate (a 'changed' url the
        crawl never reached must arrive by discovery, not by fiat). The
        engine's pages table is swapped to the new capture. Returns
        ``{"n_changed", "n_gone", "n_requeued", "n_retired"}``."""
        from .recrawl import capture_fingerprint, crawl_diff
        from ..sources.pages import latest_pages

        w0, _snap, meta = self._amended_snapshot_base()
        spark = self.spark
        new_latest = latest_pages(new_pages).select(
            F.col("url").alias("url_canon"), "html")
        diff = crawl_diff(
            capture_fingerprint(self.pages, "url_canon", "html"),
            capture_fingerprint(new_latest, "url_canon", "html"),
        ).where(F.col("change").isin("changed", "gone"))

        seen = _seen_union(spark, list(meta.get("seen_deltas", [])))
        cand = self._materialize(
            diff.withColumn(
                "url_hash", F.xxhash64(canonicalize_abs_udf(F.col("url")))
            ).join(seen, "url_hash", "semi").select("url", "change"),
            f"recrawl_diff_{w0 + 1}",
        )
        changed = cand.where(F.col("change") == "changed").select("url")
        gone = cand.where(F.col("change") == "gone").select("url")
        n_changed, n_gone = changed.count(), gone.count()
        n_retired = self.retire_seen(gone) if n_gone else 0
        n_requeued = self.requeue(changed) if n_changed else 0
        self.update_pages(new_pages)
        return {"n_changed": n_changed, "n_gone": n_gone,
                "n_requeued": n_requeued, "n_retired": n_retired}
