"""spark-submit entry point for building the at-rest retrieval index.

    python jobs/make_pyfiles.py                     # -> dist/engine.zip
    spark-submit --py-files dist/engine.zip \\
        jobs/index_job.py \\
        --docs /data/crawl_out/wave=*/results.parquet \\
        --id-col url_hash --text-col markdown \\
        --out /data/index --term-buckets 64

Materializes the three tables every retrieval operator consumes
(`bm25_from_index`, `phrase_match`, `kwic_snippets`, `tfidf_keywords`):

- ``postings.parquet``  — (term, id, tf[, positions]) RANGE-CLUSTERED by
  term and sorted within files: each file covers a disjoint term range,
  so ANY parquet reader prunes a single-term lookup to one file via
  min/max stats (hash bucketing only helps readers that know the bucket
  function; range clustering is the portable stand-in for a bucketed
  Iceberg table — the layout contract is what matters, not the catalog).
- ``dictionary.parquet`` — (term, df, cf).
- ``doclens.parquet``    — (id, dl): computed ONCE here, never per query.

``--update-docs`` applies one re-crawl epoch incrementally instead of
rebuilding: changed docs' postings replace their old rows (broadcast
anti-join — the base index is never shuffled), the dictionary takes the
signed delta, and the new index is written to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="retrieval index build job")
    p.add_argument("--docs", default=None,
                   help="docs parquet (id + text); required unless "
                        "--base-index")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--out", required=True)
    p.add_argument("--term-buckets", type=int, default=32,
                   help="postings files clustered on term")
    p.add_argument("--no-positions", action="store_true",
                   help="drop positions (no phrase/KWIC; ~halves bytes)")
    p.add_argument("--base-index", default=None,
                   help="existing index dir to update incrementally")
    p.add_argument("--update-docs", default=None,
                   help="changed/new docs parquet (with --base-index)")
    p.add_argument("--retire-ids", default=None,
                   help="parquet of ids to drop (with --base-index)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv or sys.argv[1:])
    if (args.update_docs or args.retire_ids) and not args.base_index:
        print("--update-docs/--retire-ids require --base-index",
              file=sys.stderr)
        return 2
    if not args.docs and not args.base_index:
        print("either --docs or --base-index is required", file=sys.stderr)
        return 2
    if args.base_index and os.path.realpath(args.out) == os.path.realpath(
            args.base_index):
        # Spark refuses to overwrite a path it is lazily reading from;
        # LSM epochs write to a fresh dir and swap/retire the old one
        print("--out must differ from --base-index (write the epoch to a "
              "new directory, then swap)", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from crawl4ai_custom_spark.session import ENGINE_CONF
    from crawl4ai_custom_spark.operators.textstats import (
        doc_lengths,
        inverted_postings,
        term_dictionary,
        update_index,
    )

    spark = (
        SparkSession.builder.appName("crawl4ai-custom-spark-index-job")
        .config(map=ENGINE_CONF)
        .getOrCreate()
    )

    if args.base_index:
        postings = spark.read.parquet(f"{args.base_index}/postings.parquet")
        dictionary = spark.read.parquet(
            f"{args.base_index}/dictionary.parquet")
        retired = (
            spark.read.parquet(args.retire_ids) if args.retire_ids else None
        )
        if args.update_docs:
            changed = spark.read.parquet(args.update_docs)
        else:
            # retire-only epoch: empty delta typed from the BASE index's
            # id column (string url ids etc. — never assume long)
            from pyspark.sql.types import StringType, StructField, StructType

            changed = spark.createDataFrame(
                [],
                StructType([
                    StructField(args.id_col,
                                postings.schema["id"].dataType),
                    StructField(args.text_col, StringType()),
                ]),
            )
        postings, dictionary = update_index(
            postings, dictionary, changed, retired,
            id_col=args.id_col, text_col=args.text_col)
    else:
        docs = spark.read.parquet(args.docs).select(
            F.col(args.id_col), F.col(args.text_col))
        postings = inverted_postings(docs, args.id_col, args.text_col)
        dictionary = term_dictionary(postings)

    if args.no_positions:
        postings = postings.drop("positions")

    # range-clustered layout: one shuffle on the lookup key, disjoint
    # term ranges per file, sorted inside — single-term scans prune to
    # one file on min/max stats alone
    (
        postings.repartitionByRange(args.term_buckets, "term")
        .sortWithinPartitions("term", "id")
        .write.mode("overwrite")
        .parquet(f"{args.out}/postings.parquet")
    )
    dictionary.write.mode("overwrite").parquet(
        f"{args.out}/dictionary.parquet")
    written = spark.read.parquet(f"{args.out}/postings.parquet")
    doc_lengths(written).write.mode("overwrite").parquet(
        f"{args.out}/doclens.parquet")

    d = spark.read.parquet(f"{args.out}/dictionary.parquet")
    dl = spark.read.parquet(f"{args.out}/doclens.parquet")
    out = {
        "postings": written.count(),
        "terms": d.count(),
        "docs": dl.count(),
        "out": args.out,
        "incremental": bool(args.base_index),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
