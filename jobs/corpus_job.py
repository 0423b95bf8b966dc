"""spark-submit entry point for the corpus-assembly pipeline: documents
parquet -> build_training_set (quality/lang gates, cleaning rule packs,
dedup family, decontamination, mixture/budget selection) -> sharded
training parquet.

    python jobs/make_pyfiles.py                     # -> dist/engine.zip
    spark-submit --py-files dist/engine.zip \\
        jobs/corpus_job.py \\
        --docs /data/docs.parquet --out /data/corpus \\
        --gopher --c4 --fix-mojibake \\
        --host-boilerplate 0.5 --domain-cap 100000 --url-col url \\
        --mixture en=1.0,de=0.7 --n-shards 256

Every stage is the documented CorpusConfig knob; url-dependent stages
(--host-boilerplate, --domain-cap) need --url-col. The docs input is
exactly what jobs/cc_ingest_job.py --docs-out produces (doc_id, url,
text, ...) or any table with the configured id/text columns.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="documents -> training shards")
    p.add_argument("--docs", required=True, help="input documents parquet")
    p.add_argument("--out", required=True, help="output shard directory")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--url-col", default=None,
                   help="url column (enables --host-boilerplate/--domain-cap)")
    p.add_argument("--min-quality", type=float, default=0.35)
    p.add_argument("--langs", default="en,de,fr,es",
                   help="comma-separated allowed lang_pred values")
    p.add_argument("--gopher", action="store_true")
    p.add_argument("--c4", action="store_true")
    p.add_argument("--fix-mojibake", action="store_true")
    p.add_argument("--host-boilerplate", type=float, default=None,
                   metavar="SHARE", help="per-host line strip min share")
    p.add_argument("--domain-cap", type=int, default=None)
    p.add_argument("--line-dedup", type=int, default=None, metavar="MAX_DOCS")
    p.add_argument("--span-dedup", type=int, default=None, metavar="SENTENCES")
    p.add_argument("--no-pii", action="store_true")
    p.add_argument("--no-near-dedup", action="store_true")
    p.add_argument("--jaccard", type=float, default=0.6)
    p.add_argument("--mixture", default="",
                   help="lang=rate[,lang=rate...] stratified sampling")
    p.add_argument("--budget-tokens", type=int, default=None)
    p.add_argument("--chunk-tokens", type=int, default=0)
    p.add_argument("--n-shards", type=int, default=16)
    p.add_argument("--bench", default=None,
                   help="benchmark parquet for n-gram decontamination")
    p.add_argument("--checkpoint", default=None)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv or sys.argv[1:])

    from pyspark.sql import SparkSession

    from crawl4ai_custom_spark.pipelines import (
        CorpusConfig,
        build_training_set,
        write_training_shards,
    )
    from crawl4ai_custom_spark.session import ENGINE_CONF

    spark = (
        SparkSession.builder.appName("crawl4ai-custom-spark-corpus")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )

    mixture = {}
    if args.mixture:
        for part in args.mixture.split(","):
            lang, rate = part.split("=")
            mixture[lang.strip()] = float(rate)

    cfg = CorpusConfig(
        min_quality=args.min_quality,
        allowed_langs=tuple(s.strip() for s in args.langs.split(",")),
        gopher_rules=args.gopher,
        c4_rules=args.c4,
        fix_mojibake=args.fix_mojibake,
        host_boilerplate_min_share=args.host_boilerplate,
        domain_cap=args.domain_cap,
        line_dedup_max_docs=args.line_dedup,
        span_dedup_sentences=args.span_dedup,
        redact_pii=not args.no_pii,
        near_dedup=not args.no_near_dedup,
        jaccard_threshold=args.jaccard,
        mixture=mixture,
        budget_tokens=args.budget_tokens,
        chunk_tokens=args.chunk_tokens,
        n_shards=args.n_shards,
    )

    docs = spark.read.parquet(args.docs)
    bench = spark.read.parquet(args.bench) if args.bench else None
    corpus = build_training_set(
        docs, cfg, bench=bench, id_col=args.id_col, text_col=args.text_col,
        url_col=args.url_col, checkpoint_dir=args.checkpoint,
    )
    write_training_shards(corpus, args.out)

    written = spark.read.parquet(args.out)
    print(json.dumps({
        "docs_in": docs.count(),
        "docs_out": written.count(),
        "n_shards": args.n_shards,
        "out": args.out,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
