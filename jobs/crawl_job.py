"""spark-submit entry point for the crawl engine.

    python jobs/make_pyfiles.py                     # -> dist/engine.zip
    spark-submit --py-files dist/engine.zip \\
        jobs/crawl_job.py \\
        --pages /data/pages.parquet --robots /data/robots.parquet \\
        --seeds https://example.com/ \\
        --out /data/crawl_out --checkpoint /data/crawl_ckpt \\
        --strategy bfs --max-depth 3 --max-pages 100000 --resume

On a cluster, master/executors come from spark-submit; locally it falls
back to local[*]. All engine state (frontier/seen/bloom/host_state) lives
under --checkpoint; re-running with --resume continues from the last
complete wave snapshot.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="crawl4ai_custom_spark crawl job")
    p.add_argument("--pages", required=True, help="pages parquet path/table")
    p.add_argument("--robots", default=None)
    p.add_argument("--seeds", nargs="*", default=[], help="seed urls")
    p.add_argument("--seeds-parquet", default=None, help="seed table (url column)")
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--strategy", default="bfs", choices=["bfs", "best_first", "dfs"])
    p.add_argument("--max-depth", type=int, default=3)
    p.add_argument("--max-pages", type=int, default=1000)
    p.add_argument("--batch-size", type=int, default=10)
    p.add_argument("--keywords", nargs="*", default=[])
    p.add_argument("--score-threshold", type=float, default=None)
    p.add_argument("--include-external", action="store_true")
    p.add_argument("--no-robots", action="store_true")
    p.add_argument("--no-bloom", action="store_true")
    p.add_argument("--base-delay", type=float, default=2.0)
    p.add_argument("--respect-crawl-delay", action="store_true",
                   help="honor robots Crawl-delay in per-domain wave budgets")
    p.add_argument("--wave-seconds", type=float, default=30.0)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--recrawl-pages", default=None,
                   help="NEW capture parquet: diff vs --pages, retire gone "
                        "urls from seen, requeue changed urls, then resume "
                        "the crawl against the new capture (implies --resume)")
    p.add_argument("--content-filter", default="pruning",
                   choices=["pruning", "bm25", "none"])
    p.add_argument("--fairness-waves", type=int, default=0,
                   help=">0: starvation aging horizon in waves")
    p.add_argument("--link-preview", action="store_true",
                   help="head-peek contextual scoring of discovered links"
                        " (needs --keywords)")
    p.add_argument("--trap-guard", type=int, default=None, metavar="MIN_URLS",
                   help="mine exploding (host, template) URL families from"
                        " the discovery deltas and keep them out of the"
                        " frontier (urlops.crawl_traps thresholds)")
    p.add_argument("--trap-guard-share", type=float, default=0.5)
    p.add_argument("--max-waves", type=int, default=None)
    p.add_argument("--warc-out", default=None,
                   help="also export the crawl's extracted text as WARC "
                        "conversion records (Common Crawl WET-style, gzip "
                        "members): a (blob_id, payload) parquet segment "
                        "table re-readable with parse_warc_records(gz=True)")
    p.add_argument("--warc-blobs", type=int, default=16,
                   help="number of WARC segments for --warc-out (size for "
                        "~1 GB per segment at scale)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv or sys.argv[1:])

    from pyspark.sql import SparkSession

    from crawl4ai_custom_spark.kernel.extract import ExtractConfig
    from crawl4ai_custom_spark.operators.frontier import CrawlConfig, FrontierEngine
    from crawl4ai_custom_spark.operators.politeness import PolitenessConfig
    from crawl4ai_custom_spark.session import ENGINE_CONF

    spark = (
        SparkSession.builder.appName("crawl4ai-custom-spark-job")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )

    import math

    cfg = CrawlConfig(
        strategy=args.strategy,
        max_depth=args.max_depth,
        max_pages=args.max_pages,
        batch_size=args.batch_size,
        keywords=tuple(args.keywords),
        include_external=args.include_external,
        check_robots=not args.no_robots,
        respect_crawl_delay=args.respect_crawl_delay,
        use_bloom=not args.no_bloom,
        score_threshold=(
            args.score_threshold if args.score_threshold is not None else -math.inf
        ),
        politeness=PolitenessConfig(
            base_delay=args.base_delay, wave_seconds=args.wave_seconds
        ),
        extract=ExtractConfig(content_filter=args.content_filter),
        fairness_waves=args.fairness_waves,
        link_preview_scoring=args.link_preview,
        max_waves=args.max_waves,
        trap_guard_min_urls=args.trap_guard,
        trap_guard_min_share=args.trap_guard_share,
    )
    robots = spark.read.parquet(args.robots) if args.robots else None
    engine = FrontierEngine(
        spark,
        spark.read.parquet(args.pages),
        robots,
        cfg,
        checkpoint_dir=args.checkpoint,
        out_dir=args.out,
    )
    seeds = list(args.seeds)
    if args.seeds_parquet:
        seeds = spark.read.parquet(args.seeds_parquet)
    recrawl = None
    if args.recrawl_pages:
        recrawl = engine.schedule_recrawl(spark.read.parquet(args.recrawl_pages))
    run = engine.run(seeds, resume=args.resume or bool(args.recrawl_pages))
    out = {
        "pages_crawled": run.pages_crawled,
        "waves": run.waves,
        "results_dir": run.results_dir,
        "checkpoint_dir": run.checkpoint_dir,
        "stats": run.stats,
    }
    if recrawl is not None:
        out["recrawl"] = recrawl
    if args.warc_out:
        from pyspark.sql import functions as F

        from crawl4ai_custom_spark.sources.warc import warc_write

        results = run.results(spark)
        pages = results.where(
            F.col("success") & F.col("raw_markdown").isNotNull()
        ).select("url", F.col("raw_markdown").alias("payload"))
        warc_write(
            pages, n_blobs=args.warc_blobs, payload_col="payload",
            ts_col=None, warc_type="conversion", gz=True,
        ).write.mode("overwrite").parquet(args.warc_out)
        out["warc_out"] = args.warc_out
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
