"""spark-submit entry point for Common-Crawl-style ingestion: index lines
-> latest-capture fetch plan -> WARC byte-range fetch -> parsed records ->
pages (response records) and/or documents (WET conversion records).

    python jobs/make_pyfiles.py                     # -> dist/engine.zip
    spark-submit --py-files dist/engine.zip \\
        jobs/cc_ingest_job.py \\
        --index "/data/cc/cdx-*.gz" --segments-root /data/cc \\
        --pages-out /data/pages.parquet --docs-out /data/docs.parquet

The index accepts BOTH CC line framings (CDXJ shards and the API's
output=json); gz shards decode in the text reader. The fetch stage reads
ONLY the planned byte ranges (one task per segment, offset-ordered) —
never whole segments. The pages output is the crawl engine's input table
(jobs/crawl_job.py --pages); the docs output feeds the corpus pipeline.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="CC index -> pages/documents")
    p.add_argument("--index", required=True,
                   help="CC index lines (text/gz path or glob)")
    p.add_argument("--segments-root", required=True,
                   help="directory containing the WARC segment files")
    p.add_argument("--pages-out", default=None,
                   help="write response records as the pages table here")
    p.add_argument("--docs-out", default=None,
                   help="write WET conversion records as documents here")
    p.add_argument("--statuses", nargs="*", type=int, default=[200])
    p.add_argument("--mime-prefixes", nargs="*",
                   default=["text/html", "text/plain"])
    p.add_argument("--all-captures", action="store_true",
                   help="keep every capture instead of latest per urlkey")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv or sys.argv[1:])
    if not args.pages_out and not args.docs_out:
        print("need --pages-out and/or --docs-out", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.sources.ccindex import (
        cc_index_fetch_plan,
        cc_index_records,
        read_warc_ranges,
    )
    from crawl4ai_custom_spark.sources.warc import (
        parse_warc_records,
        warc_records_as_pages,
        wet_records_as_documents,
    )
    from crawl4ai_custom_spark.session import ENGINE_CONF

    spark = (
        SparkSession.builder.appName("crawl4ai-custom-spark-cc-ingest")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )

    plan = cc_index_fetch_plan(
        cc_index_records(spark.read.text(args.index)),
        statuses=tuple(args.statuses),
        mime_prefixes=tuple(args.mime_prefixes),
        latest_only=not args.all_captures,
    )
    ranges = read_warc_ranges(plan, args.segments_root)
    records = parse_warc_records(
        ranges.withColumn("blob_id", F.xxhash64("url")),
        payload_col="payload", gz=True,
    )

    out = {"planned": plan.count()}
    if args.pages_out:
        pages = warc_records_as_pages(records)
        pages.write.mode("overwrite").parquet(args.pages_out)
        out["pages"] = spark.read.parquet(args.pages_out).count()
        out["pages_out"] = args.pages_out
    if args.docs_out:
        docs = wet_records_as_documents(records)
        docs.write.mode("overwrite").parquet(args.docs_out)
        out["documents"] = spark.read.parquet(args.docs_out).count()
        out["docs_out"] = args.docs_out
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
