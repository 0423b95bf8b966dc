"""Frontier engine tests: BFS oracle equivalence, politeness budgets, robots
gating, best-first batching, determinism, checkpoint resume.
"""

import duckdb
import pyspark.sql.functions as F
import pytest

from crawl4ai_custom_spark.operators.frontier import CrawlConfig, FrontierEngine
from crawl4ai_custom_spark.operators.politeness import PolitenessConfig
from tests.oracle_crawler import oracle_bfs

SEEDS = [
    "https://mega.example-shop.com/",
    "https://shop1.example1.com/",
    "https://mega.example-shop.com/missing/seed-404",  # guaranteed fetch-miss
]


def _rows(site_dir, name):
    return duckdb.sql(f"select * from '{site_dir}/{name}.parquet'").df().to_dict("records")


@pytest.fixture(scope="module")
def pages_df(spark, site_dir):
    return spark.read.parquet(f"{site_dir}/pages.parquet")


@pytest.fixture(scope="module")
def robots_df(spark, site_dir):
    return spark.read.parquet(f"{site_dir}/robots.parquet")


@pytest.fixture(scope="module")
def bfs_run(spark, site_dir, pages_df, robots_df, tmp_path_factory):
    cfg = CrawlConfig(
        strategy="bfs", max_depth=3, max_pages=500,
        politeness=PolitenessConfig(wave_seconds=1e9),  # generous budget
        use_bloom=True, bloom_partitions=4, bloom_min_seen=0,
    )
    eng = FrontierEngine(
        spark, pages_df, robots_df, cfg,
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt_bfs")),
        out_dir=str(tmp_path_factory.mktemp("out_bfs")),
    )
    return eng.run(SEEDS), cfg


def test_bfs_matches_oracle(bfs_run, spark, site_dir):
    run, cfg = bfs_run
    oracle = oracle_bfs(
        SEEDS, _rows(site_dir, "pages"), _rows(site_dir, "robots"),
        max_depth=cfg.max_depth, max_pages=cfg.max_pages,
    )
    admitted = run.admitted_log(spark)
    got_waves = [
        {r["url_canon"] for r in admitted.where(F.col("wave") == w).collect()}
        for w in range(run.waves)
    ]
    got_waves = [w for w in got_waves if w]
    assert len(got_waves) == len(oracle["waves"]), (
        [len(w) for w in got_waves], [len(w) for w in oracle["waves"]]
    )
    for i, (g, o) in enumerate(zip(got_waves, oracle["waves"])):
        assert g == o, f"wave {i}: extra={sorted(g - o)[:5]} missing={sorted(o - g)[:5]}"
    assert run.pages_crawled == oracle["crawled"]


def test_bfs_lineage_per_partition_metrics(bfs_run, spark):
    """North rule: per-partition lineage + fetch/extract metrics — the wave
    snapshot's stats table rolls up to the per-wave admitted counts."""
    run, _ = bfs_run
    lin = run.lineage(spark)
    assert {"wave", "exec_partition", "registrable_domain", "fetched",
            "extracted_ok", "html_bytes", "extract_ms"} <= set(lin.columns)
    per_wave = {
        r["wave"]: (r["fetched"], r["ok"]) for r in lin.groupBy("wave").agg(
            F.sum("fetched").alias("fetched"), F.sum("extracted_ok").alias("ok")
        ).collect()
    }
    for s in run.stats:
        assert per_wave[s["wave"]] == (s["admitted"], s["fetched_ok"])
    # extraction work really is spread across executor partitions
    big_wave = max(run.stats, key=lambda s: s["admitted"])["wave"]
    n_parts = lin.where(F.col("wave") == big_wave).select(
        "exec_partition").distinct().count()
    assert n_parts > 1


def test_bfs_robots_blocked_never_crawled(bfs_run, spark):
    run, _ = bfs_run
    admitted = run.admitted_log(spark)
    assert admitted.where(F.col("url_canon").contains("/private/")).count() == 0


def test_bfs_depth_bounded_and_miss_handling(bfs_run, spark):
    run, cfg = bfs_run
    res = run.results(spark)
    assert res.agg(F.max("depth")).first()[0] <= cfg.max_depth
    # fetch-miss urls are admitted but 404 and produce no links
    misses = res.where(F.col("status_code") == 404)
    assert misses.count() > 0
    assert misses.where(F.size("links") > 0).count() == 0


def test_politeness_budget_respected(spark, pages_df, robots_df, tmp_path):
    pol = PolitenessConfig(base_delay=2.0, wave_seconds=6.0)  # budget = 3/domain
    cfg = CrawlConfig(strategy="bfs", max_depth=2, max_pages=60, politeness=pol,
                      use_bloom=False)
    eng = FrontierEngine(spark, pages_df, robots_df, cfg,
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         out_dir=str(tmp_path / "out"))
    run = eng.run(SEEDS)
    counts = (
        run.admitted_log(spark)
        .groupBy("wave", "registrable_domain")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert counts <= 3
    assert run.pages_crawled <= cfg.max_pages


def test_best_first_batches_and_budget(spark, pages_df, robots_df, tmp_path):
    cfg = CrawlConfig(
        strategy="best_first", batch_size=10, max_depth=3, max_pages=40,
        keywords=("tools", "widget"), politeness=PolitenessConfig(wave_seconds=1e9),
        use_bloom=False,
    )
    eng = FrontierEngine(spark, pages_df, robots_df, cfg,
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         out_dir=str(tmp_path / "out"))
    run = eng.run(SEEDS)
    per_wave = run.admitted_log(spark).groupBy("wave").count().collect()
    assert all(r["count"] <= cfg.batch_size for r in per_wave)
    assert run.pages_crawled <= cfg.max_pages
    # scores recorded and ordering column present
    adm = run.admitted_log(spark)
    assert adm.where(F.col("order_in_wave").isNull()).count() == 0


def test_resume_from_checkpoint_equals_uninterrupted(spark, pages_df, robots_df, tmp_path):
    pol = PolitenessConfig(wave_seconds=1e9)
    # interrupted: kill at the wave-2 boundary, then resume
    cfg_a = CrawlConfig(strategy="bfs", max_depth=3, max_pages=60, politeness=pol,
                        use_bloom=False, max_waves=2)
    eng_a = FrontierEngine(spark, pages_df, robots_df, cfg_a,
                           checkpoint_dir=str(tmp_path / "ckpt"),
                           out_dir=str(tmp_path / "out"))
    eng_a.run(SEEDS)
    cfg_b = CrawlConfig(strategy="bfs", max_depth=3, max_pages=60, politeness=pol,
                        use_bloom=False)
    eng_b = FrontierEngine(spark, pages_df, robots_df, cfg_b,
                           checkpoint_dir=str(tmp_path / "ckpt"),
                           out_dir=str(tmp_path / "out"))
    run_b = eng_b.run(SEEDS, resume=True)
    # uninterrupted control
    cfg_c = CrawlConfig(strategy="bfs", max_depth=3, max_pages=60, politeness=pol,
                        use_bloom=False)
    eng_c = FrontierEngine(spark, pages_df, robots_df, cfg_c,
                           checkpoint_dir=str(tmp_path / "ckpt_c"),
                           out_dir=str(tmp_path / "out_c"))
    run_c = eng_c.run(SEEDS)
    got = {r["url_canon"] for r in run_b.admitted_log(spark).collect()}
    want = {r["url_canon"] for r in run_c.admitted_log(spark).collect()}
    assert got == want
    assert run_b.pages_crawled == run_c.pages_crawled


def test_bfs_deterministic(spark, pages_df, robots_df, tmp_path):
    runs = []
    for tag in ("r1", "r2"):
        cfg = CrawlConfig(strategy="bfs", max_depth=2, max_pages=50,
                          politeness=PolitenessConfig(wave_seconds=1e9),
                          use_bloom=True, bloom_partitions=4,
                          bloom_min_seen=0)
        eng = FrontierEngine(spark, pages_df, robots_df, cfg,
                             checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
                             out_dir=str(tmp_path / f"out_{tag}"))
        run = eng.run(SEEDS)
        runs.append(
            sorted(
                (r["wave"], r["url_canon"], r["order_in_wave"])
                for r in run.admitted_log(spark).collect()
            )
        )
    assert runs[0] == runs[1]


def test_link_preview_scoring_prioritizes_matching_heads(spark, tmp_path):
    """Three-tier link scoring (reference link_preview.py): with
    link_preview_scoring on, a link whose target <head> matches the query
    outranks one that doesn't — even though plain tiebreak order (url ASC)
    would admit the other first."""
    import datetime as dt

    def page(url, title, links=()):
        body = "".join(f'<a href="{l}">go</a>' for l in links)
        html = (
            f"<html><head><title>{title}</title></head>"
            f"<body><p>hello world text here</p>{body}</body></html>"
        ).encode()
        return (url, dt.datetime(2025, 1, 1), html, "", "en")

    pages = spark.createDataFrame(
        [
            page("https://s.com/", "Home", ["/zmatch", "/aplain"]),
            page("https://s.com/zmatch", "quantum flux capacitors"),
            page("https://s.com/aplain", "plain page"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    base = dict(
        strategy="best_first", batch_size=1, max_depth=2, max_pages=10,
        keywords=("quantum", "flux"), check_robots=False, use_bloom=False,
        politeness=PolitenessConfig(wave_seconds=1e9),
    )
    orders = {}
    for flag in (False, True):
        cfg = CrawlConfig(**base, link_preview_scoring=flag)
        eng = FrontierEngine(
            spark, pages, None, cfg,
            checkpoint_dir=str(tmp_path / f"c{flag}"),
            out_dir=str(tmp_path / f"o{flag}"),
        )
        run = eng.run(["https://s.com/"])
        adm = run.admitted_log(spark).orderBy("wave", "order_in_wave").collect()
        orders[flag] = [r["url_canon"] for r in adm]
    on, off = orders[True], orders[False]
    assert on.index("https://s.com/zmatch") < on.index("https://s.com/aplain")
    assert off.index("https://s.com/aplain") < off.index("https://s.com/zmatch")


def test_seen_delta_compaction_preserves_crawl(spark, pages_df, robots_df, tmp_path):
    """Forcing seen-delta compaction every 2 waves yields the identical
    crawl (admitted sets + pages) as the uncompacted layout."""
    runs = {}
    for tag, every in (("default", 64), ("compact", 2)):
        cfg = CrawlConfig(strategy="bfs", max_depth=3, max_pages=200,
                          politeness=PolitenessConfig(wave_seconds=1e9),
                          use_bloom=False, seen_compact_every=every)
        eng = FrontierEngine(spark, pages_df, robots_df, cfg,
                             checkpoint_dir=str(tmp_path / f"c_{tag}"),
                             out_dir=str(tmp_path / f"o_{tag}"))
        run = eng.run(SEEDS)
        runs[tag] = (
            {(r["wave"], r["url_canon"]) for r in run.admitted_log(spark).collect()},
            run.pages_crawled,
        )
    assert runs["default"] == runs["compact"]


def test_respect_crawl_delay_caps_wave_budget(spark, tmp_path):
    """With respect_crawl_delay, a robots-declared Crawl-delay 3 at
    wave_seconds 6 caps the host to 2 admissions per wave (base delay 2
    would have allowed 3); the crawl still completes over more waves."""
    import datetime as dt

    def page(url, links=()):
        body = "".join(f'<a href="{l}">x</a>' for l in links)
        html = f"<html><body><p>w w w</p>{body}</body></html>".encode()
        return (url, dt.datetime(2025, 1, 1), html, "", "en", 200)

    kids = [f"/k{i}" for i in range(6)]
    pages = spark.createDataFrame(
        [page("https://s.com/", kids)] + [page(f"https://s.com{k}") for k in kids],
        "url string, warc_ts timestamp, html binary, text string,"
        " lang string, status_code int",
    )
    robots = spark.createDataFrame(
        [("s.com", "user-agent: *\ncrawl-delay: 3",
          dt.datetime(2026, 8, 18))],
        "domain string, rules string, fetch_time timestamp",
    )
    for flag, cap in ((True, 2), (False, 3)):
        cfg = CrawlConfig(
            strategy="bfs", max_depth=2, max_pages=100, use_bloom=False,
            respect_crawl_delay=flag,
            politeness=PolitenessConfig(base_delay=2.0, wave_seconds=6.0),
        )
        eng = FrontierEngine(spark, pages, robots, cfg,
                             checkpoint_dir=str(tmp_path / f"c{flag}"),
                             out_dir=str(tmp_path / f"o{flag}"))
        run = eng.run(["https://s.com/"])
        per_wave = (
            run.admitted_log(spark).groupBy("wave").count()
            .agg(F.max("count")).first()[0]
        )
        assert per_wave <= cap, (flag, per_wave)
        assert run.pages_crawled == 7  # delay slows waves, never loses pages


def test_transient_status_retries_with_backoff(spark, tmp_path):
    """429/503 fetches re-enter the frontier with retry_count+1 until
    max_retries (dispatcher parity); 404s never retry; the failing domain's
    delay backs off."""
    import datetime as dt

    def page(url, status, links=()):
        body = "".join(f'<a href="{l}">x</a>' for l in links)
        html = f"<html><body><p>w w w</p>{body}</body></html>".encode()
        return (url, dt.datetime(2025, 1, 1), html, "", "en", status)

    pages = spark.createDataFrame(
        [
            page("https://s.com/", 200, ["/ok", "/flaky", "/gone"]),
            page("https://s.com/ok", 200),
            page("https://s.com/flaky", 503),
        ],
        "url string, warc_ts timestamp, html binary, text string,"
        " lang string, status_code int",
    )
    cfg = CrawlConfig(
        strategy="bfs", max_depth=2, max_pages=100, check_robots=False,
        use_bloom=False,
        politeness=PolitenessConfig(wave_seconds=1e9, max_retries=2),
    )
    eng = FrontierEngine(spark, pages, None, cfg,
                         checkpoint_dir=str(tmp_path / "c"),
                         out_dir=str(tmp_path / "o"))
    run = eng.run(["https://s.com/"])
    adm = run.admitted_log(spark)
    flaky = adm.where(F.col("url_canon") == "https://s.com/flaky")
    # initial attempt + 2 retries, each in a distinct wave
    assert flaky.count() == 3
    assert flaky.select("wave").distinct().count() == 3
    assert (flaky.agg(F.max("retry_count")).first()[0]
            == cfg.politeness.max_retries)
    # 404 (missing /gone) is permanent: one attempt only
    assert adm.where(F.col("url_canon") == "https://s.com/gone").count() == 1
    # results carry the transient status, never extracted
    res = run.results(spark)
    assert res.where((F.col("url") == "https://s.com/flaky")
                     & (F.col("status_code") == 503)).count() == 3
    assert res.where((F.col("url") == "https://s.com/flaky")
                     & F.col("success")).count() == 0


def test_context_and_authority_change_link_ranking(spark):
    """Item parity with utils.py:3216-3373 + DomainAuthorityScorer wiring:
    (a) parent-page term overlap lifts a matching link above an otherwise
    identical one; (b) cfg.domain_authority reorders the composite."""
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.frontier import CrawlConfig, FrontierEngine

    pages = spark.createDataFrame(
        [("https://x.com/", b"<html></html>", "x")],
        ["url", "html", "lang"],
    ).withColumn("warc_ts", F.current_timestamp())

    def links_df(with_ctx):
        cols = {
            "parent_url": "https://x.com/", "parent_depth": 0, "link_pos": 0,
        }
        rows = [
            ("https://x.com/a.html", "quantum widgets guide", ""),
            ("https://x.com/b.html", "unrelated anchor words", ""),
        ]
        data = [
            (cols["parent_url"], cols["parent_depth"], cols["link_pos"],
             href, text, title, "x.com", True)
            for href, text, title in rows
        ]
        df = spark.createDataFrame(
            data,
            ["parent_url", "parent_depth", "link_pos", "href", "text",
             "title", "registrable_domain", "is_internal"],
        )
        if with_ctx:
            df = df.withColumn(
                "parent_terms",
                F.array(F.lit("quantum"), F.lit("widgets"), F.lit("physics")),
            ).withColumn("parent_host", F.lit("docs.x.com"))
        return df

    eng = FrontierEngine(spark, pages, cfg=CrawlConfig())
    plain = {r["href"]: r["score"] for r in eng._score_links(
        links_df(False), eng._link_score_cols(False)).collect()}
    ctx = {r["href"]: r["score"] for r in eng._score_links(
        links_df(True), eng._link_score_cols(True)).collect()}
    # without context the two links tie; with it the overlapping one wins
    assert plain["https://x.com/a.html"] == plain["https://x.com/b.html"]
    assert ctx["https://x.com/a.html"] > ctx["https://x.com/b.html"]

    # domain authority reorders two equal links on different domains
    data = [
        ("https://x.com/", 0, 0, "https://low.com/p.html", "same words here",
         "", "low.com", False),
        ("https://x.com/", 0, 0, "https://high.com/p.html", "same words here",
         "", "high.com", False),
    ]
    df = spark.createDataFrame(
        data,
        ["parent_url", "parent_depth", "link_pos", "href", "text", "title",
         "registrable_domain", "is_internal"],
    )
    eng2 = FrontierEngine(
        spark, pages,
        cfg=CrawlConfig(domain_authority=(("high.com", 1.0), ("low.com", 0.0))),
    )
    auth = {r["registrable_domain"]: r["score"] for r in eng2._score_links(
        df, eng2._link_score_cols(False)).collect()}
    assert auth["high.com"] > auth["low.com"]


def test_crawlrun_queue_stats(spark, site_dir, tmp_path):
    import os

    from crawl4ai_custom_spark.operators.frontier import CrawlConfig, FrontierEngine
    from crawl4ai_custom_spark.operators.politeness import PolitenessConfig

    eng = FrontierEngine(
        spark,
        spark.read.parquet(os.path.join(site_dir, "pages.parquet")),
        spark.read.parquet(os.path.join(site_dir, "robots.parquet")),
        CrawlConfig(max_depth=2, max_pages=60,
                    politeness=PolitenessConfig(wave_seconds=1e9)),
        checkpoint_dir=str(tmp_path / "c"), out_dir=str(tmp_path / "o"),
    )
    seeds = [r["url"] for r in
             spark.read.parquet(os.path.join(site_dir, "seeds.parquet")).collect()]
    run = eng.run(seeds)
    qs = {r["wave"]: r for r in run.queue_stats(spark).collect()}
    assert set(qs) == set(range(run.waves))
    # BFS with no budget pressure: everything admits the wave after discovery
    assert all(r["max_wait_waves"] == 0 for r in qs.values())
    assert sum(r["admitted"] for r in qs.values()) == run.pages_crawled


def test_trap_guard_blocks_exploding_family(spark, tmp_path):
    """cfg.trap_guard_min_urls: an exploding calendar family (60 urls, one
    (host,template) key) is mined from the discovery delta and never
    enters the frontier; the bounded article family crawls normally; with
    the guard off every url is crawled."""
    import datetime as dt

    hub = "https://t.example.com/"
    cal = [f"https://t.example.com/cal?d=2024-01-{i}" for i in range(60)]
    art = [f"https://t.example.com/article-{i}" for i in range(10)]
    links = "".join(f'<a href="{u}">x</a>' for u in cal + art)
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [(hub, ts, f"<html><body>{links}</body></html>".encode(),
             "hub", "en")]
    for u in cal + art:
        rows.append((u, ts, b"<html><body>leaf page</body></html>",
                     "leaf", "en"))
    pages = spark.createDataFrame(
        rows, ["url", "warc_ts", "html", "text", "lang"])

    def crawl(guard, tag="", compact_every=64):
        cfg = CrawlConfig(
            strategy="bfs", max_depth=2, max_pages=500, check_robots=False,
            politeness=PolitenessConfig(wave_seconds=1e9),
            use_bloom=False, seen_compact_every=compact_every,
            trap_guard_min_urls=30 if guard else None,
        )
        eng = FrontierEngine(
            spark, pages, None, cfg,
            checkpoint_dir=str(tmp_path / f"ck_{guard}{tag}"),
            out_dir=str(tmp_path / f"out_{guard}{tag}"),
        )
        run = eng.run([hub])
        return {r["url_canon"] for r in run.admitted_log(spark).collect()}

    guarded = crawl(True)
    assert sum("cal?d=" in u for u in guarded) == 0
    assert sum("article-" in u for u in guarded) == 10
    unguarded = crawl(False)
    assert sum("cal?d=" in u for u in unguarded) == 60
    assert sum("article-" in u for u in unguarded) == 10
    # trap-delta compaction every wave must not change the result
    assert crawl(True, tag="_c", compact_every=1) == guarded


def test_trap_counts_incremental_equals_batch(spark):
    """Summing per-delta trap_counts over disjoint url batches reproduces
    crawl_traps over the whole set exactly."""
    from crawl4ai_custom_spark.operators.urlops import (
        crawl_traps,
        trap_counts,
        traps_from_counts,
    )

    urls = spark.createDataFrame(
        [(f"https://x.com/cal?d={i}",) for i in range(40)]
        + [(f"https://x.com/post-{i % 5}",) for i in range(20)],
        ["url"],
    ).distinct()
    half_a = urls.limit(30)
    half_b = urls.subtract(half_a)
    merged = traps_from_counts(
        trap_counts(half_a).unionByName(trap_counts(half_b)),
        min_urls=30, min_share=0.5)
    whole = crawl_traps(urls, min_urls=30, min_share=0.5)
    assert sorted(map(tuple, merged.collect())) \
        == sorted(map(tuple, whole.collect()))


def test_crawlrun_host_cardinality_sketch(spark, site_dir, tmp_path):
    """sketch_cardinality=True writes per-wave HLL host sketches; merged
    estimate tracks the exact distinct-host count over seeds + discovery
    deltas (few hosts -> linear-counting regime, near-exact)."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.frontier import (
        CrawlConfig,
        FrontierEngine,
    )
    from crawl4ai_custom_spark.operators.politeness import PolitenessConfig

    eng = FrontierEngine(
        spark,
        spark.read.parquet(os.path.join(site_dir, "pages.parquet")),
        spark.read.parquet(os.path.join(site_dir, "robots.parquet")),
        CrawlConfig(max_depth=2, max_pages=60,
                    politeness=PolitenessConfig(wave_seconds=1e9),
                    sketch_cardinality=True),
        checkpoint_dir=str(tmp_path / "c"), out_dir=str(tmp_path / "o"),
    )
    seeds = [r["url"] for r in spark.read.parquet(
        os.path.join(site_dir, "seeds.parquet")).collect()]
    run = eng.run(seeds)
    sk = glob.glob(str(tmp_path / "o" / "wave=*" / "hll_hosts.parquet"))
    assert sk, "per-wave sketches missing"
    est = run.host_cardinality(spark).collect()[0]["estimate"]
    deltas = [os.path.join(str(tmp_path / "c"), "_state", "seeds_all")] + [
        os.path.join(os.path.dirname(p), "new_links.parquet") for p in sk]
    exact = (
        spark.read.parquet(*deltas)
        .agg(F.countDistinct("registrable_domain")).collect()[0][0]
    )
    assert exact > 0
    assert abs(est - exact) / exact < 0.05

    # a crawl without sketching has nothing to estimate from
    eng2 = FrontierEngine(
        spark,
        spark.read.parquet(os.path.join(site_dir, "pages.parquet")),
        spark.read.parquet(os.path.join(site_dir, "robots.parquet")),
        CrawlConfig(max_depth=1, max_pages=5,
                    politeness=PolitenessConfig(wave_seconds=1e9)),
        checkpoint_dir=str(tmp_path / "c2"), out_dir=str(tmp_path / "o2"),
    )
    run2 = eng2.run(seeds[:1])
    with pytest.raises(ValueError):
        run2.host_cardinality(spark)


def test_crawlrun_payload_moments_profile(spark, site_dir, tmp_path):
    """sketch_cardinality=True also writes per-wave payload moments;
    the merged profile matches exact whole-crawl stats (n/min/max
    integer-exact, mean/std to float tolerance) and the CF p95 estimate
    lands inside the observed range. host_cardinality defaults to the
    run's own sketch_p."""
    import glob
    import os

    import pytest
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.operators.frontier import (
        CrawlConfig,
        FrontierEngine,
    )
    from crawl4ai_custom_spark.operators.politeness import PolitenessConfig

    eng = FrontierEngine(
        spark,
        spark.read.parquet(os.path.join(site_dir, "pages.parquet")),
        spark.read.parquet(os.path.join(site_dir, "robots.parquet")),
        CrawlConfig(max_depth=2, max_pages=60,
                    politeness=PolitenessConfig(wave_seconds=1e9),
                    sketch_cardinality=True, sketch_p=10),
        checkpoint_dir=str(tmp_path / "c"), out_dir=str(tmp_path / "o"),
    )
    seeds = [r["url"] for r in spark.read.parquet(
        os.path.join(site_dir, "seeds.parquet")).collect()]
    run = eng.run(seeds)
    assert run.sketch_p == 10
    sk = glob.glob(str(tmp_path / "o" / "wave=*" / "moments_payload.parquet"))
    assert sk, "per-wave payload moments missing"

    prof = run.payload_profile(spark, quantile=0.95).collect()[0]
    exact = (
        run.results(spark).where(F.col("status_code") == 200)
        .select((F.length(F.coalesce("raw_markdown", F.lit("")))
                 / 1000.0).alias("kb"))
        .agg(F.count("kb").alias("n"), F.avg("kb").alias("mean"),
             F.min("kb").alias("mn"), F.max("kb").alias("mx"))
        .collect()[0]
    )
    assert prof["n"] == exact["n"] and exact["n"] > 0
    assert prof["mn"] == exact["mn"] and prof["mx"] == exact["mx"]
    assert abs(prof["mean"] - exact["mean"]) < 1e-9
    assert exact["mn"] <= prof["kb_q_est"] <= exact["mx"]

    # host_cardinality picks up the run's sketch_p automatically (mixing
    # register widths would silently corrupt the estimate)
    est = run.host_cardinality(spark).collect()[0]["estimate"]
    assert est > 0

    # a run without sketching refuses to fabricate a profile
    eng2 = FrontierEngine(
        spark,
        spark.read.parquet(os.path.join(site_dir, "pages.parquet")),
        spark.read.parquet(os.path.join(site_dir, "robots.parquet")),
        CrawlConfig(max_depth=1, max_pages=5,
                    politeness=PolitenessConfig(wave_seconds=1e9)),
        checkpoint_dir=str(tmp_path / "c2"), out_dir=str(tmp_path / "o2"),
    )
    run2 = eng2.run(seeds[:1])
    with pytest.raises(ValueError):
        run2.payload_profile(spark)


def test_fairness_stats_per_wave(spark, pages_df, robots_df, tmp_path):
    """fairness_stats=True adds host_gini / hosts_in_wave to every wave
    with admissions: gini in [0,1), hosts positive, and a single-host
    wave reads 0 (perfectly 'even' by definition)."""
    cfg = CrawlConfig(
        strategy="bfs", max_depth=2, max_pages=60,
        politeness=PolitenessConfig(wave_seconds=1e9),
        fairness_stats=True,
    )
    eng = FrontierEngine(
        spark, pages_df, robots_df, cfg,
        checkpoint_dir=str(tmp_path / "ckpt"),
        out_dir=str(tmp_path / "out"),
    )
    run = eng.run(SEEDS)
    waves = [s for s in run.stats if s["admitted"] > 0]
    assert waves, "no admitting waves?"
    for s in waves:
        assert "host_gini" in s and "hosts_in_wave" in s
        assert s["hosts_in_wave"] >= 1
        if s["hosts_in_wave"] == 1:
            assert s["host_gini"] == 0.0
        else:
            assert 0.0 <= s["host_gini"] < 1.0


def test_materialize_reads_back_without_a_job(spark, pages_df, tmp_path,
                                              jobs_started):
    """_materialize scans its write back with the written schema: it starts
    exactly the write's jobs, no schema-inference job on top."""
    eng = FrontierEngine(spark, pages_df, cfg=CrawlConfig(),
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         out_dir=str(tmp_path / "out"))
    df = spark.range(5).select(F.col("id").alias("url_hash"))
    n_write = jobs_started(
        lambda: df.write.mode("overwrite").parquet(str(tmp_path / "plain")))
    got = []
    assert jobs_started(
        lambda: got.append(eng._materialize(df, "probe"))) == n_write
    assert sorted(r["url_hash"] for r in got[0].collect()) == list(range(5))


def test_run_builds_no_rdd_and_final_bloom_covers_seen(
        spark, pages_df, robots_df, tmp_path, monkeypatch):
    """A depth-1 crawl over the fixture plus one NULL-url capture:
      - the NULL-url row is dropped at ingest (never a pages-view row);
      - no DataFrame.rdd is built (it would run the wave plan's stages
        once before the real job);
      - the seeds fold into the bloom with wave 0's links on wave 0's
        commit, and the last wave discovers nothing, so its commit skips
        the bloom fold (one fold in all); the final snapshot's bloom
        still covers every url in its seen set."""
    from crawl4ai_custom_spark.operators.seen import PartitionedBloom

    pages = pages_df.unionByName(
        pages_df.limit(1).withColumn("url", F.lit(None).cast("string")))
    folds = []
    add = PartitionedBloom.add

    def counting_add(self, *args, **kwargs):
        folds.append(1)
        return add(self, *args, **kwargs)

    def no_rdd(self):
        raise AssertionError("DataFrame.rdd built during FrontierEngine.run")

    monkeypatch.setattr(PartitionedBloom, "add", counting_add)
    # the concrete (classic) DataFrame class, which defines its own .rdd
    monkeypatch.setattr(type(pages_df), "rdd", property(no_rdd))
    cfg = CrawlConfig(strategy="bfs", max_depth=1, max_pages=500,
                      politeness=PolitenessConfig(wave_seconds=1e9),
                      use_bloom=True, bloom_partitions=4)
    eng = FrontierEngine(spark, pages, robots_df, cfg,
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         out_dir=str(tmp_path / "out"))
    run = eng.run(SEEDS[:2])
    monkeypatch.undo()

    assert eng.pages.where(F.col("url_canon").isNull()).count() == 0
    assert [s["new_links"] > 0 for s in run.stats] == [True, False]
    assert len(folds) == 1
    _assert_snapshot_bloom_covers_seen(spark, eng, str(tmp_path / "bloom"))


def _assert_snapshot_bloom_covers_seen(spark, eng, state_dir):
    """The latest snapshot's bloom flags every hash in its exact seen set:
    a bloom false negative would bypass the exact anti-join."""
    from crawl4ai_custom_spark.operators.frontier import _seen_union
    from crawl4ai_custom_spark.operators.seen import PartitionedBloom

    snap = eng.store.read(eng.store.latest_wave())
    seen = _seen_union(spark, snap["_meta"]["seen_deltas"])
    bloom = PartitionedBloom(spark, eng.cfg.bloom_partitions,
                             state_dir=state_dir)
    bloom.state = snap["bloom"]
    flags = bloom.prefilter(seen).groupBy("bloom_maybe_seen").count().collect()
    assert {r["bloom_maybe_seen"]: r["count"] for r in flags} == {
        True: seen.count()}


def test_saturated_bloom_crawl_equals_exact_crawl(
        spark, pages_df, robots_df, tmp_path, monkeypatch):
    """The bloom only prefilters: one so small that it fills up within the
    crawl flags nearly every later candidate, which then all go through
    the exact anti-join, and the crawl is the one the exact seen set
    alone gives."""
    import os

    from crawl4ai_custom_spark.operators.seen import PartitionedBloom

    def tiny_bloom(eng, state_dir=None):
        return PartitionedBloom(
            eng.spark, eng.cfg.bloom_partitions, capacity_per_partition=1,
            state_dir=state_dir or os.path.join(
                eng.checkpoint_dir, "_state", "bloom"))

    runs = {}
    for name, use_bloom in (("exact", False), ("saturated", True)):
        if use_bloom:
            monkeypatch.setattr(FrontierEngine, "_new_bloom", tiny_bloom)
        cfg = CrawlConfig(strategy="bfs", max_depth=2, max_pages=200,
                          politeness=PolitenessConfig(wave_seconds=1e9),
                          use_bloom=use_bloom, bloom_partitions=4,
                          bloom_min_seen=0)
        eng = FrontierEngine(spark, pages_df, robots_df, cfg,
                             checkpoint_dir=str(tmp_path / f"ck_{name}"),
                             out_dir=str(tmp_path / f"out_{name}"))
        run = eng.run(SEEDS)
        runs[name] = sorted(
            (r["wave"], r["url_canon"], r["order_in_wave"])
            for r in run.admitted_log(spark).collect())
    assert len(runs["exact"]) > 10
    assert runs["saturated"] == runs["exact"]
    # the filter really saturated: it flags hashes nothing ever added
    bloom = tiny_bloom(eng, str(tmp_path / "probe"))
    bloom.state = eng.store.read(eng.store.latest_wave())["bloom"]
    probe = spark.range(1000).select(
        F.xxhash64(F.concat(F.lit("never-"), F.col("id"))).alias("url_hash"))
    assert bloom.prefilter(probe).where(
        F.col("bloom_maybe_seen")).count() > 900
    _assert_snapshot_bloom_covers_seen(spark, eng, str(tmp_path / "bloom"))


def test_depth_exhausted_wave_skips_link_discovery(
        spark, pages_df, robots_df, tmp_path):
    """Every page of a depth-1 crawl's wave 1 sits at max_depth, so every
    link it holds fails the depth filter: the wave starts no link-discovery
    job and writes no discovery delta."""
    import os
    import uuid

    cfg = CrawlConfig(strategy="bfs", max_depth=1, max_pages=500,
                      politeness=PolitenessConfig(wave_seconds=1e9),
                      use_bloom=True, bloom_partitions=4)
    eng = FrontierEngine(spark, pages_df, robots_df, cfg,
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         out_dir=str(tmp_path / "out"))
    sc = spark.sparkContext
    gid = f"depth-exhausted-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "depth-exhausted crawl")
    try:
        run = eng.run(SEEDS[:2])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descs = []
    for job_id in sc.statusTracker().getJobIdsForGroup(gid):
        d = store.job(job_id).description()
        descs.append(d.get() if d.isDefined() else "")
    assert any(d.startswith("wave 0: link discovery") for d in descs), descs
    assert not any(d.startswith("wave 1: link discovery") for d in descs)
    assert os.path.isdir(os.path.join(run.results_dir, "wave=00000",
                                      "new_links.parquet"))
    assert not os.path.exists(os.path.join(run.results_dir, "wave=00001",
                                           "new_links.parquet"))
    assert [s["new_links"] > 0 for s in run.stats] == [True, False]


def test_fetch_takes_latest_capture_and_keeps_every_miss(
        bfs_run, spark, site_dir, pages_df, tmp_path):
    """The fetch joins the raw captures and keeps the latest capture per
    admitted url: a url with an older capture is extracted from its newest
    html, and several fetch misses admitted in one wave each get their own
    404 row in that wave (a window keyed on the captures' url would fold
    every miss into one NULL group and push the rest to later waves)."""
    run, _ = bfs_run
    caps = duckdb.sql(f"""
        select url, octet_length(html) as n, warc_ts,
               count(*) over (partition by url) as n_caps,
               row_number() over (partition by url
                                  order by warc_ts desc) as rn
        from '{site_dir}/pages.parquet'
    """).df()
    multi = caps[caps.n_caps >= 2]
    latest = dict(zip(multi[multi.rn == 1].url, multi[multi.rn == 1].n))
    older = dict(zip(multi[multi.rn > 1].url, multi[multi.rn > 1].n))
    got = {r["url"]: r["html_bytes"] for r in run.results(spark)
           .where(F.col("url").isin(list(latest))).collect()}
    assert any(older[u] != latest[u] for u in got), got
    assert got == {u: latest[u] for u in got}
    assert run.results(spark).groupBy("url").count().where(
        F.col("count") > 1).count() == 0

    misses = ["https://mega.example-shop.com/missing/a",
              "https://mega.example-shop.com/missing/b",
              "https://shop1.example1.com/missing/c"]
    cfg = CrawlConfig(strategy="bfs", max_depth=0, max_pages=10,
                      politeness=PolitenessConfig(wave_seconds=1e9),
                      check_robots=False, use_bloom=False)
    eng = FrontierEngine(spark, pages_df, None, cfg,
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         out_dir=str(tmp_path / "out"))
    rows = eng.run(misses + [SEEDS[0]]).results(spark).select(
        "url", "status_code", "wave").collect()
    assert sorted((r["url"], r["status_code"], r["wave"]) for r in rows) == sorted(
        [(u, 404, 0) for u in misses] + [(SEEDS[0], 200, 0)])


def test_first_wave_snapshot_bloom_covers_seeds(
        spark, pages_df, robots_df, tmp_path):
    """The seeds fold into the bloom on wave 0's commit, before its
    manifest lands: a crawl stopped after one wave leaves a snapshot whose
    bloom covers the whole seen set, seeds included."""
    cfg = CrawlConfig(strategy="bfs", max_depth=2, max_pages=500,
                      max_waves=1, politeness=PolitenessConfig(wave_seconds=1e9),
                      use_bloom=True, bloom_partitions=4)
    eng = FrontierEngine(spark, pages_df, robots_df, cfg,
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         out_dir=str(tmp_path / "out"))
    run = eng.run(SEEDS)
    assert run.waves == 1 and eng.store.latest_wave() == 0
    seen_deltas = eng.store.read(0)["_meta"]["seen_deltas"]
    assert any(p.endswith("seeds_all") for p in seen_deltas)
    _assert_snapshot_bloom_covers_seen(spark, eng, str(tmp_path / "bloom"))


def _site_seeds(spark, site_dir):
    return [r["url"] for r in
            spark.read.parquet(f"{site_dir}/seeds.parquet").collect()]


def test_requeue_and_retire_recrawl_loop(spark, site_dir, pages_df, robots_df,
                                         tmp_path):
    """The re-crawl scheduling loop: requeue forces a re-crawl of chosen
    urls; retire_seen forgets discovery (exact seen set compacted, bloom
    rebuilt from it) so organic link rediscovery re-queues pages on the
    next resumed crawl."""
    seeds = _site_seeds(spark, site_dir)
    cfg = CrawlConfig(
        strategy="bfs", max_depth=2, max_pages=500,
        politeness=PolitenessConfig(wave_seconds=1e9),
        use_bloom=True, bloom_partitions=4, bloom_min_seen=0,
    )
    eng = FrontierEngine(
        spark, pages_df, robots_df, cfg,
        checkpoint_dir=str(tmp_path / "ck"), out_dir=str(tmp_path / "out"),
    )
    run1 = eng.run(seeds)
    log1 = run1.admitted_log(spark).collect()
    crawled = sorted({r["url_canon"] for r in log1})
    assert len(crawled) > 10
    hub = seeds[0].rstrip("/") + "/"
    # children discovered FROM the hub (depth-1 rows whose parent is a seed)
    children = sorted({
        r["url_canon"] for r in log1
        if r["wave"] == 1
    })[:3]
    assert children

    # --- requeue: hub re-enters the frontier; resume re-crawls it ---------
    n_q = eng.requeue([hub] if hub in crawled else [crawled[0]])
    assert n_q == 1
    # --- retire: children leave seen; the bloom is rebuilt from the rest --
    n_r = eng.retire_seen(children)
    assert n_r == len(children)
    _assert_snapshot_bloom_covers_seen(spark, eng, str(tmp_path / "bloom"))
    run2 = eng.run(seeds, resume=True)
    log2 = run2.admitted_log(spark)
    new_waves = log2.where(F.col("wave") > max(r["wave"] for r in log1))
    re_admitted = {r["url_canon"] for r in new_waves.collect()}
    # the requeued hub was re-crawled, and its retired children were
    # organically re-discovered and re-crawled
    assert any(u in re_admitted for u in (hub, crawled[0]))
    assert set(children) <= re_admitted, (
        sorted(set(children) - re_admitted))


def test_diff_driven_recrawl_admits_exactly_changed_and_gone(
        spark, site_dir, pages_df, robots_df, tmp_path):
    """Close the re-crawl loop end-to-end. Crawl a site, then mutate it
    (one hub page's content changes; two of its children vanish) and
    schedule_recrawl + resume:

      * the changed hub is requeued and re-fetched with the NEW content;
      * the gone children are retired from seen (bloom rebuilt from the
        kept set), organically re-discovered from the hub's re-crawl,
        re-admitted through politeness, and recorded as fetch misses;
      * NOTHING else is re-admitted (exact resume preserved).
    """
    pages = pages_df
    seeds = _site_seeds(spark, site_dir)
    cfg = CrawlConfig(
        strategy="bfs", max_depth=3, max_pages=500,
        politeness=PolitenessConfig(wave_seconds=1e9),
        use_bloom=True, bloom_partitions=4, bloom_min_seen=0,
    )
    eng = FrontierEngine(
        spark, pages, robots_df, cfg,
        checkpoint_dir=str(tmp_path / "ck"), out_dir=str(tmp_path / "out"),
    )
    run1 = eng.run(seeds)
    res1 = spark.read.parquet(f"{run1.results_dir}/*/results.parquet")
    ok1 = res1.where(F.col("status_code") == 200)
    # a crawled hub with >= 3 crawled children (children = rows whose
    # parent_url is the hub)
    hub_row = (
        ok1.where(F.col("parent_url").isNotNull())
        .groupBy("parent_url").count().where(F.col("count") >= 3)
        .orderBy("parent_url").first()
    )
    assert hub_row is not None
    hub = hub_row["parent_url"]
    children = sorted(
        r["url"] for r in
        ok1.where(F.col("parent_url") == hub).select("url").collect()
    )
    gone = children[:2]
    n_wave1 = run1.waves

    marker = "<p>recrawl marker xyzzy fresh content</p>"
    new_pages = (
        pages.where(~F.col("url").isin(gone))
        .withColumn(
            "html",
            F.when(
                F.col("url") == hub,
                F.encode(F.regexp_replace(
                    F.decode(F.col("html"), "utf-8"),
                    "</body>", marker + "</body>"), "utf-8"),
            ).otherwise(F.col("html")),
        )
    )
    info = eng.schedule_recrawl(new_pages)
    assert info["n_changed"] == 1 and info["n_requeued"] == 1
    assert info["n_gone"] == 2 and info["n_retired"] == 2

    run2 = eng.run(seeds, resume=True)
    res2 = spark.read.parquet(f"{run2.results_dir}/*/results.parquet")
    new_rows = res2.where(
        F.col("wave").cast("int") >= n_wave1
    ).select("url", "status_code", "text").collect()
    re_admitted = {r["url"] for r in new_rows}
    # exactly the changed hub + its two vanished children, nothing else
    assert re_admitted == {hub, *gone}, re_admitted
    by_url = {r["url"]: r for r in new_rows}
    assert by_url[hub]["status_code"] == 200
    assert "recrawl marker xyzzy" in by_url[hub]["text"]
    for g in gone:
        assert by_url[g]["status_code"] != 200  # fetch miss: page is gone
